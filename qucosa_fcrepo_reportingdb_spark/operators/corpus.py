"""Corpus-preparation operators for training-data pipelines (SURVEY.md §2.4
extension surface): test-set decontamination, sequence packing, stratified
subset selection, corpus n-gram statistics, and duplicate-cluster
resolution. Everything is expression-tree / DataFrame work (no Python in
the hot path) with DuckDB oracles; the one iterative operator
(connected components) is a bounded driver loop whose oracle is a
recursive CTE.

Scale notes per operator are on the functions; the common principles:
shard-local windows instead of global sorts, broadcast of provably-small
sides only (a benchmark shingle set), map-side-combinable aggregations,
and candidate graphs that never materialize a quadratic pair space.
"""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
from qucosa_fcrepo_reportingdb_spark.memo import (
    cut_lineage,
    session_memo,
)
from qucosa_fcrepo_reportingdb_spark.operators.banding import (
    Layout,
    band_exprs,
    band_join,
    band_rows_sql,
    explode_bands,
)
from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
    BANDED_FAMILIES,
    DEDUP_JACCARD_SQL,
    INCREMENTAL_MOD,
    INCREMENTAL_NEW,
    JACCARD_THRESHOLD,
    ORACLE_BANDS56,
    BandedFamily,
    _modality,
    _normed_embeddings,
    _screen_entry,
    _vfp_bands,
    banded_oracle,
    jaccard_pair_table,
    shingled_docs,
    uncapped_jaccard_pairs,
)
from qucosa_fcrepo_reportingdb_spark.plans.common import fan_out, t

# the perceptual families' signature, banding and gate specs
_IMAGE, _AUDIO, _VIDEO = (BANDED_FAMILIES[k] for k in (
    "image_phash", "audio_afp", "video_vfh_frame"))

# Deterministic multiplicative hashing (same constants as
# plans/advanced.deterministic_sample): the subset is a pure function of
# the key — stable across engines, partitionings, and cluster sizes.
MULT = 2654435761          # Knuth multiplicative constant
MOD = 4294967296           # 2^32


def key_hash(col: str) -> str:
    """Overflow-safe Knuth multiplicative hash, identical SQL in both
    dialects. ``(key % 2^32) * 2654435761`` alone is NOT enough: the
    product reaches ~1.1e19 > 2^63-1 once the reduced key exceeds
    ~3.47e9 (~19% of the 32-bit space) — Spark (non-ANSI) wraps silently
    to a NEGATIVE hash while DuckDB raises, breaking the deterministic-
    across-engines guarantee exactly at the 100 TB id ranges this module
    targets. So the multiply is SPLIT 16/16: with k = key mod 2^32,
    lo = k mod 2^16, hi = (k - lo)/2^16 (an exact multiple — the
    division is float-exact and dialect-neutral, unlike `div` vs `//`),

        k*M mod 2^32 = (lo*M + ((hi*M) mod 2^32) * 2^16) mod 2^32

    where every intermediate stays below 2^49. Identical values to the
    naive form wherever that form didn't overflow."""
    k = f"(({col}) % {MOD})"
    lo = f"({k} % 65536)"
    hi = f"CAST(({k} - {lo}) / 65536 AS BIGINT)"
    return (f"(({lo} * {MULT} + (({hi} * {MULT}) % {MOD}) * 65536)"
            f" % {MOD})")
BENCH_RATE = MOD // 20     # ~5% of documents play the held-out benchmark
CONTAMINATION_MIN_SHINGLES = 3


def _bench_split(frame: DataFrame, id_col: str = "doc_id",
                 flag: str = "is_suite") -> DataFrame:
    """Flag the ~5% key_hash benchmark sample every single-suite screen
    shares, so an entity's text, embedding and media agree on whether
    it is held-out eval material."""
    return frame.withColumn(flag, F.expr(key_hash(id_col)) < BENCH_RATE)


def _suite_slice(frame: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Tag the key_hash suite slice the multi-suite screens share
    (suite < N_BENCH_SUITES is a benchmark suite, the rest is corpus)."""
    return frame.withColumn(
        "suite", F.expr(f"{key_hash(id_col)} % {SUITE_SLICE_MOD}"))

PACK_BUDGET_TOKENS = 512   # context-window token budget per pack
PACK_SHARDS = 16           # independent packing streams (no global sort)

STRATUM_SIZE = 40          # docs per language stratum

NGRAM_TOP_K = 20


# ---------------------------------------------------------------------------
# test-set decontamination
# ---------------------------------------------------------------------------
# The registry: query name -> Spark query, and -> DuckDB oracle SQL. The
# decontamination screens' forms register at their definitions
# (dedup._screen_entry), the other queries in blocks.
QUERIES: "dict[str, Callable]" = {}
ORACLES: "dict[str, str]" = {}


def _phase_sql(is_new: str) -> str:
    """The growth-event label of a phase-labeled (release) form."""
    return f"CASE WHEN {is_new} THEN 'ingest' ELSE 'backfill' END AS phase"


# the corpus-wide ingest convention: doc_id is in the incoming batch
_IS_NEW_SQL = f"doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}"

# The lexical screens. Bloom: two bit positions per shingle hash.
BLOOM_M = 8192   # bloom filter bits
BLOOM_P = 2_147_483_647
# Multi-suite screens: the suite slice of each doc.
N_BENCH_SUITES = 3
SUITE_SLICE_MOD = 64    # suite s = docs with key_hash % 64 == s (~1.6% each)
NEW_SUITE = N_BENCH_SUITES - 1   # the benchmark ADDED after the snapshot


def _bloom_bits(s: str, dialect: str = "spark") -> str:
    """Two deterministic bit positions per shingle hash (s < 2^31, so
    s*31+7 stays far below 2^63 in both engines)."""
    ctor = "array" if dialect == "spark" else "list_value"
    return (f"{ctor}({s} % {BLOOM_M}, "
            f"(({s} * 31 + 7) % {BLOOM_P}) % {BLOOM_M})")


def _ngram_oracle(form: str) -> str:
    """The n-gram overlap screen in DuckDB: ``incremental`` keeps the
    incoming corpus docs; ``suite_refresh`` adds the phase label and the
    overlap with the shingles only NEW suite members carry."""
    inc = f"AND {_IS_NEW_SQL}" if form == "incremental" else ""
    bench = "SELECT DISTINCT unnest(sh) AS s FROM shl WHERE is_bench"
    new = phase = new_col = ""
    if form == "suite_refresh":
        bench = f"""
  SELECT s, bool_and(m_new) AS only_new FROM (
    SELECT unnest(sh) AS s, {_IS_NEW_SQL} AS m_new
    FROM shl WHERE is_bench) t
  GROUP BY s"""
        new = (",\n         SUM(CASE WHEN b.only_new THEN 1 ELSE 0 END)"
               " AS n_overlap_new")
        phase = f"\n       {_phase_sql('c.' + _IS_NEW_SQL)},"
        new_col = ("\n       CAST(COALESCE(o.n_overlap_new, 0) AS BIGINT)"
                   " AS n_overlap_new_suite,")
    return f"""
WITH {H.shingle_ctes(is_bench=f"{key_hash('doc_id')} < {BENCH_RATE}")},
bench_sh AS ({bench}),
corpus AS (SELECT doc_id, sh FROM shl WHERE NOT is_bench {inc}),
ex AS (SELECT doc_id, unnest(sh) AS s FROM corpus),
overlap AS (
  SELECT ex.doc_id, COUNT(*) AS n_overlap{new}
  FROM ex JOIN bench_sh b ON ex.s = b.s
  GROUP BY ex.doc_id)
SELECT c.doc_id,{phase}
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,{new_col}
       COALESCE(o.n_overlap, 0) >= {CONTAMINATION_MIN_SHINGLES}
         AS contaminated
FROM corpus c LEFT JOIN overlap o ON c.doc_id = o.doc_id
ORDER BY c.doc_id
"""


def _bloom_oracle(form: str) -> str:
    """The Bloom screen in DuckDB (batch form only)."""
    return f"""
WITH {H.shingle_ctes(is_bench=f"{key_hash('doc_id')} < {BENCH_RATE}")},
bench_s AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE is_bench),
bits AS (SELECT DISTINCT unnest({_bloom_bits('s', 'duck')}) AS bit
         FROM bench_s),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE NOT is_bench),
pos AS (
  SELECT doc_id,
         {_bloom_bits('s', 'duck')}[1] AS b1,
         {_bloom_bits('s', 'duck')}[2] AS b2
  FROM ex),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits
  FROM pos
  WHERE b1 IN (SELECT bit FROM bits) AND b2 IN (SELECT bit FROM bits)
  GROUP BY doc_id)
SELECT c.doc_id,
       CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       COALESCE(h.n_bloom_hits, 0) >= {CONTAMINATION_MIN_SHINGLES}
         AS maybe_contaminated
FROM (SELECT doc_id FROM shl WHERE NOT is_bench) c
LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id
"""


def _multi_suite_oracle(form: str) -> str:
    """The multi-suite screen in DuckDB: per-suite overlap counts; the
    ``incremental`` form's rows are the batch rows plus the phase
    label."""
    cols = [f"n_overlap_suite{k}" for k in range(N_BENCH_SUITES)]
    sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN su.suite = {k} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {cols[k]}" for k in range(N_BENCH_SUITES))
    any_pred = " OR ".join(
        f"COALESCE(o.{c}, 0) >= {CONTAMINATION_MIN_SHINGLES}" for c in cols)
    phase = (f"\n       {_phase_sql('c.' + _IS_NEW_SQL)},"
             if form == "incremental" else "")
    return f"""
WITH {H.shingle_ctes(suite=f"{key_hash('doc_id')} % {SUITE_SLICE_MOD}")},
suites AS (SELECT DISTINCT suite, unnest(sh) AS s FROM shl
           WHERE suite < {N_BENCH_SUITES}),
corpus AS (SELECT doc_id, sh FROM shl WHERE suite >= {N_BENCH_SUITES}),
ex AS (SELECT doc_id, unnest(sh) AS s FROM corpus),
o AS (
  SELECT ex.doc_id,
         {sums}
  FROM ex JOIN suites su ON ex.s = su.s
  GROUP BY ex.doc_id)
SELECT c.doc_id,{phase}
       {', '.join(f'CAST(COALESCE(o.{c}, 0) AS BIGINT) AS {c}'
                  for c in cols)},
       {any_pred} AS contaminated
FROM corpus c LEFT JOIN o ON o.doc_id = c.doc_id
ORDER BY c.doc_id
"""


def _strip_spans_oracle(form: str) -> str:
    """The span-strip ledger in DuckDB. The ``incremental`` form adds
    the phase label and the positions covered beyond the OLD suites'
    ledger (backfill rows) — all positions for ingest rows."""
    def covered(m: str, col: str) -> str:
        return f"""
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS {col} FROM (
    SELECT DISTINCT m.doc_id, m.p + o.o AS tp
    FROM {m} m, LATERAL (SELECT unnest(range(0, m.span)) AS o) o) t
  GROUP BY doc_id"""
    ctes = phase = new_col = joins = ""
    if form == "incremental":
        ctes = f""",
oldset AS (SELECT DISTINCT s FROM suite_grams WHERE suite < {NEW_SUITE}),
m_old AS (SELECT pos.* FROM pos JOIN oldset a ON a.s = pos.s
          WHERE pos.doc_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}),
cov_old AS ({covered("m_old", "c_old")})"""
        phase = f"\n       {_phase_sql('c.' + _IS_NEW_SQL)},"
        new_col = f"""
       CASE WHEN c.{_IS_NEW_SQL} THEN COALESCE(ca.c_all, 0)
            ELSE COALESCE(ca.c_all, 0) - COALESCE(co.c_old, 0)
            END AS n_new_covered_tokens,"""
        joins = "\nLEFT JOIN cov_old co ON co.doc_id = c.doc_id"
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
th AS (SELECT doc_id, len(toks) AS n_tokens,
              {H.token_hashes('toks', 'duck')} AS th FROM toks),
grams AS (SELECT doc_id, n_tokens,
                 CASE WHEN n_tokens >= 3 THEN 3 ELSE 1 END AS span,
                 {H.ordered_shingle_hashes('th', 'duck')} AS gr,
                 {key_hash('doc_id')} % {SUITE_SLICE_MOD} AS suite
          FROM th),
suite_grams AS (
  SELECT DISTINCT suite, unnest(gr) AS s FROM grams
  WHERE suite < {N_BENCH_SUITES}),
allset AS (SELECT DISTINCT s FROM suite_grams),
corpus AS (SELECT * FROM grams WHERE suite >= {N_BENCH_SUITES}),
pos AS (
  SELECT c.doc_id, c.span, u.i - 1 AS p, u.s
  FROM corpus c,
       LATERAL (SELECT unnest(gr) AS s,
                       generate_subscripts(gr, 1) AS i) u),
m_all AS (SELECT pos.* FROM pos JOIN allset a ON a.s = pos.s),
per_all AS (
  SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS g_all
  FROM m_all GROUP BY doc_id),
cov_all AS ({covered("m_all", "c_all")}){ctes}
SELECT c.doc_id,{phase}
       CAST(c.n_tokens AS BIGINT) AS n_tokens,
       COALESCE(pa.g_all, 0) AS n_matched_grams,
       COALESCE(ca.c_all, 0) AS n_covered_tokens,{new_col}
       CAST(c.n_tokens - COALESCE(ca.c_all, 0) AS DOUBLE)
         / CAST(NULLIF(c.n_tokens, 0) AS DOUBLE) AS clean_ratio,
       COALESCE(pa.g_all, 0)
         >= {CONTAMINATION_MIN_SHINGLES} AS would_drop
FROM corpus c
LEFT JOIN per_all pa ON pa.doc_id = c.doc_id
LEFT JOIN cov_all ca ON ca.doc_id = c.doc_id{joins}
ORDER BY c.doc_id
"""


class LexicalScreen(NamedTuple):
    """One lexical screen: its forms (form -> registry name) and its
    DuckDB oracle builder (form -> SQL). Each form is defined with
    ``@_lexical_entry`` where the registry order puts it (the oracle
    sweep's tiebreak)."""
    forms: dict
    oracle: Callable


LEXICAL_SCREENS = {
    "ngram": LexicalScreen(
        {"batch": "decontaminate_ngram_overlap",
         "incremental": "decontaminate_ngram_overlap_incremental",
         "suite_refresh": "decontaminate_ngram_overlap_suite_refresh"},
        _ngram_oracle),
    "bloom": LexicalScreen({"batch": "decontaminate_bloom"}, _bloom_oracle),
    # the two-growth-event forms (ingest + new-suite backfill)
    "multi_suite": LexicalScreen(
        {"batch": "decontaminate_multi_suite",
         "incremental": "decontaminate_multi_suite_incremental"},
        _multi_suite_oracle),
    "strip_spans": LexicalScreen(
        {"batch": "decontaminate_strip_spans",
         "incremental": "decontaminate_strip_spans_incremental"},
        _strip_spans_oracle),
}
_lexical_entry = _screen_entry(
    (QUERIES, ORACLES), LEXICAL_SCREENS,
    lambda screen, form: LEXICAL_SCREENS[screen].oracle(form))


@_lexical_entry
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing >= CONTAMINATION_MIN_SHINGLES
    distinct 3-gram shingles with the held-out benchmark split (the
    standard n-gram-overlap decontamination used for LLM training sets).

    The benchmark split is the deterministic ~5% hash sample of the same
    corpus, so the check is self-contained and reproducible. Scale shape:
    the benchmark's distinct-shingle set is small by construction ->
    broadcast; the corpus side explodes shingles and aggregates matches
    per doc (map-side combinable). No pair space, no self-join: cost is
    one corpus scan + one broadcast lookup regardless of corpus size."""
    return _ngram_screen(spark, sf_dir, incoming_only=False)


def _ngram_screen(spark: SparkSession, sf_dir: str,
                  incoming_only: bool) -> DataFrame:
    """Shared body of the lexical screen's batch and delta-ingest
    forms: one shingling pipeline, one broadcast benchmark-shingle
    join, one per-doc roll-up.

    Reads the memoized _bench_shingled artifact: the plan
    consumes the shingle frame on THREE branches (bench set, corpus
    explode, roll-up base), and without the materialization each branch
    re-tokenized the corpus from parquet per invocation — the same
    duplicated-subtree cost the suite-refresh form already avoided."""
    sh = _bench_shingled(spark, sf_dir)
    corpus = sh.filter(~F.col("is_bench"))
    if incoming_only:
        corpus = corpus.filter(
            (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    return ngram_screen_frame(corpus, _shingle_set(sh.filter("is_bench")))\
        .orderBy("doc_id")


def _shingle_set(frame: DataFrame, col: str = "sh", *keep: str) -> DataFrame:
    """Distinct (``keep``..., s) rows of the hash array ``col`` — the
    suite side of the lexical screens. explode_outer + null-filter
    rather than explode: see operators/dedup.py — InferFiltersFromGenerate
    on a non-outer explode pushes a size(sh)>0 predicate below the
    projection chain with full expression substitution."""
    return (frame.select(*keep, F.explode_outer(col).alias("s"))
            .filter(F.col("s").isNotNull())
            .distinct())


def ngram_screen_frame(corpus: DataFrame, suite: DataFrame,
                       refresh: bool = False) -> DataFrame:
    """Shared verdict body of the lexical screen — corpus shingles
    (doc_id, sh) against the suite shingle set (s): one shingle explode,
    one broadcast join, one per-doc count. One code path for the batch,
    incremental, suite-refresh and streaming forms. ``refresh`` takes a
    suite set that also carries ``only_new`` and adds the phase label and
    n_overlap_new_suite (decontaminate_ngram_overlap_suite_refresh)."""
    aggs = [F.count(F.lit(1)).alias("n_overlap")]
    if refresh:
        aggs.append(F.sum(F.when(F.col("only_new"), 1).otherwise(0))
                    .alias("n_overlap_new_suite"))
    overlap = (
        corpus.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .join(F.broadcast(suite), "s", "inner")
        .groupBy("doc_id")
        .agg(*aggs)
    )
    rows = corpus.select("doc_id").join(overlap, "doc_id", "left")
    if refresh:
        return rows.selectExpr(
            "doc_id", _phase_sql(_IS_NEW_SQL),
            "CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap",
            "CAST(COALESCE(n_overlap_new_suite, 0) AS BIGINT)"
            " AS n_overlap_new_suite",
            f"COALESCE(n_overlap, 0) >= {CONTAMINATION_MIN_SHINGLES}"
            " AS contaminated")
    return rows.select(
        "doc_id",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        (F.coalesce("n_overlap", F.lit(0))
         >= CONTAMINATION_MIN_SHINGLES).alias("contaminated"),
    )


def _bench_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized bench-flagged shingle frame (doc_id, sh, is_bench) —
    the lexical arm of the manifest-reconstruction path: the other
    four refresh screens ride memoized signature artifacts
    (BandedFamily.signatures), and the lexical refresh plan
    consumes the frame on BOTH sides (bench + corpus), so without the
    memo even a single reconstruction paid the shingle pipeline twice.
    Materialized once per (session, dataset), it is read as
    checkpoint blocks by every census consumer of the reconstruction
    (diff, and any repeated release pricing in one session).

    Also used by every lexical plan that consumes the shingle frame on
    MULTIPLE branches — the batch/incremental n-gram screens and the
    Bloom screen (three branches each: bench/bits set, corpus explode,
    roll-up base) and the leakage report (two). Without it each
    re-shingled the corpus once per branch (ngram 2.44 -> 1.42 s,
    incremental 2.04 -> 1.03 s, bloom 3.01 -> 1.20 s at sf0.1, noop
    sink, medians of 3). A deployment's single-pass screen reads the
    same artifact its reconstruction path already needs."""
    def build() -> DataFrame:
        docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
        return (_bench_split(shingled_docs(docs), flag="is_bench")
                .transform(cut_lineage))
    return session_memo(spark, ("bench_shingled", sf_dir), build)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sample packing for
    training): within a shard, documents are concatenated in doc_id order
    and a document belongs to pack floor((cumulative_tokens - 1) / budget)
    — whole documents only, deterministic, single window pass.

    Scale shape: packing is SHARDED (doc_id mod PACK_SHARDS), so the sort
    is per-shard — there is no global sequence, which is exactly how a
    100 TB corpus packs (one packing stream per output file). The window
    cumsum shuffles once on the shard id."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    with_counts = docs.selectExpr(
        "doc_id",
        f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
        f"size({H.tokens('text', 'spark')}) AS n_tokens",
    )
    w = Window.partitionBy("shard").orderBy("doc_id") \
              .rowsBetween(Window.unboundedPreceding, 0)
    return (
        with_counts
        .withColumn("cum_tokens",
                    F.sum("n_tokens").over(w).cast("long"))
        .withColumn(
            # greatest(..., 0): a zero-token doc at the head of a shard
            # has cum_tokens = 0 and floor((0-1)/budget) = -1; clamp so
            # downstream consumers never see a negative pack id.
            "pack_id",
            F.greatest(
                F.floor((F.col("cum_tokens") - 1) / PACK_BUDGET_TOKENS),
                F.lit(0))
            .cast("long"))
        .select("doc_id", "shard", "n_tokens", "cum_tokens", "pack_id")
        .orderBy("doc_id")
    )


PACK_SEQUENCES_SQL = f"""
WITH counts AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         len({H.tokens('text', 'duck')}) AS n_tokens
  FROM documents)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       CAST(greatest(floor((CAST(SUM(n_tokens) OVER (PARTITION BY shard
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
            CURRENT ROW) AS BIGINT) - 1) / {PACK_BUDGET_TOKENS}), 0)
            AS BIGINT) AS pack_id
FROM counts
ORDER BY doc_id
"""


def pack_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utilization report over pack_sequences: tokens per (shard, pack)
    against the budget — the fill-rate table that tells a trainer how
    much padding whole-document packing costs (a pack's total may exceed
    the budget only via its last document spilling). One extra
    aggregation over the packing output."""
    packs = pack_sequences(spark, sf_dir)
    return (
        packs.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("pack_tokens"))
        .select(
            "shard", "pack_id", "n_docs", "pack_tokens",
            (F.col("pack_tokens").cast("double") / float(PACK_BUDGET_TOKENS))
            .alias("utilization"),
        )
        .orderBy("shard", "pack_id")
    )


PACK_EFFICIENCY_SQL = f"""
SELECT shard, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE)
         / {float(PACK_BUDGET_TOKENS)} AS utilization
FROM ({PACK_SEQUENCES_SQL}) p
GROUP BY shard, pack_id
ORDER BY shard, pack_id
"""


# ---------------------------------------------------------------------------
# stratified subset selection
# ---------------------------------------------------------------------------
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(STRATUM_SIZE, |stratum|) documents per language,
    selected by deterministic hash rank — the balanced-subset op for
    training mixes. Unlike rate-based sampling, strata sizes are exact;
    unlike rand(), the subset is a pure function of the keys.

    Scale shape: one shuffle on the stratum key; the rank window is a
    per-stratum top-k (Spark executes rank-filter windows with partial
    top-k pushdown via WindowGroupLimit)."""
    docs = t(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id", "lang",
        F.expr(key_hash("doc_id")).alias("h"),
    ).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("lang")
                            .orderBy("h", "doc_id")))
    return (
        ranked.filter(F.col("rk") <= STRATUM_SIZE)
        .select("doc_id", "lang", "h",
                F.col("rk").cast("long").alias("stratum_rank"))
        .orderBy("lang", "stratum_rank")
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang, {key_hash('doc_id')} AS h,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {key_hash('doc_id')}, doc_id)
           AS rk
  FROM documents)
SELECT doc_id, lang, h, CAST(rk AS BIGINT) AS stratum_rank
FROM ranked
WHERE rk <= {STRATUM_SIZE}
ORDER BY lang, stratum_rank
"""


# ---------------------------------------------------------------------------
# corpus n-gram statistics
# ---------------------------------------------------------------------------
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus trigrams by document frequency (tie-broken by total
    occurrences then text) — the corpus-statistics pass behind boilerplate
    detection and hot-shingle caps.

    Scale shape: explode -> one hash-shuffle aggregation with map-side
    combine; the final top-K is ORDER BY + LIMIT, which Catalyst executes
    as TakeOrderedAndProject (no global sort materialization)."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    grams = docs.selectExpr(
        "doc_id", f"{H.tokens('text', 'spark')} AS toks",
    ).selectExpr(
        # explode_outer: see dedup.py on InferFiltersFromGenerate.
        # CASE guard (same shape as hashing.shingle_hashes): for <3-token
        # docs sequence(1, size-2) would DESCEND — sequence(1, 0) is
        # [1, 0] in Spark — and element_at(toks, 0) throws, so short docs
        # must yield an empty gram array, matching the oracle's
        # end-exclusive range().
        "doc_id",
        "explode_outer(CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2))) ELSE array() END) AS ngram",
    ).filter(F.col("ngram").isNotNull())
    return (
        grams.groupBy("ngram")
        .agg(F.countDistinct("doc_id").alias("doc_freq"),
             F.count(F.lit(1)).alias("total_count"))
        .orderBy(F.col("doc_freq").desc(), F.col("total_count").desc(),
                 F.col("ngram"))
        .limit(NGRAM_TOP_K)
    )


NGRAM_TOPK_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
           AS ngram
  FROM toks)
SELECT ngram,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(COUNT(*) AS BIGINT) AS total_count
FROM grams
GROUP BY ngram
ORDER BY doc_freq DESC, total_count DESC, ngram
LIMIT {NGRAM_TOP_K}
"""


def boilerplate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate signal: the fraction of a doc's trigrams
    that belong to the corpus-wide top-{NGRAM_TOP_K} (ngram_topk) — high
    values mark template/navigation text. Composes the corpus statistics
    pass with a per-doc recount; a third quality dimension next to
    intra-doc repetition (repetition_stats) and verbatim spans
    (strip_shared_substrings).

    Scale shape: the top-K set is bounded -> broadcast; the corpus side
    re-derives trigrams scan-locally; shuffles only on doc_id."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    grams = docs.selectExpr(
        "doc_id", f"{H.tokens('text', 'spark')} AS toks",
    ).selectExpr(
        "doc_id", "size(toks) AS n_toks",
        "explode_outer(CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2))) ELSE array() END) AS ngram",
    )
    top = ngram_topk(spark, sf_dir).select("ngram")
    per_doc = (
        grams.filter(F.col("ngram").isNotNull())
        .join(F.broadcast(top), "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    base = grams.groupBy("doc_id").agg(
        F.sum((F.col("ngram").isNotNull()).cast("long")).cast("long")
        .alias("n_grams"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_grams",
            F.coalesce("n_boilerplate", F.lit(0)).cast("long")
            .alias("n_boilerplate"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(F.coalesce("n_boilerplate", F.lit(0)).cast("double")
                       / F.col("n_grams").cast("double"))
            .alias("boilerplate_ratio"),
        )
        .orderBy("doc_id")
    )


BOILERPLATE_FRACTION_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
           AS ngram
  FROM toks),
top AS (SELECT ngram FROM ({NGRAM_TOPK_SQL}) x),
per_doc AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boilerplate
  FROM grams g JOIN top USING (ngram)
  GROUP BY g.doc_id),
base AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM grams GROUP BY doc_id),
alldocs AS (SELECT doc_id FROM documents)
SELECT a.doc_id,
       CAST(COALESCE(b.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       CASE WHEN COALESCE(b.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(COALESCE(p.n_boilerplate, 0) AS DOUBLE)
                 / CAST(b.n_grams AS DOUBLE) END AS boilerplate_ratio
FROM alldocs a
LEFT JOIN base b ON b.doc_id = a.doc_id
LEFT JOIN per_doc p ON p.doc_id = a.doc_id
ORDER BY a.doc_id
"""


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------
# Safety valve, not a tuning knob: star contraction converges on real
# dup graphs in 2-3 rounds and breaks out early, so the cap only binds
# pathological shapes. Measured rounds-to-converge on adversarial
# chains: depth 1k -> 11, 10k -> 15, 100k -> 18 (the old cap of 15 sat
# EXACTLY on the 10k-chain line); 30 covers diameter ~2^29. A 2M-leaf
# single hub converges in 2 rounds / ~12 s — the per-node window is not
# the bottleneck even at extreme degree.
CC_MAX_ITERATIONS = 30


def _star_min(e: DataFrame) -> DataFrame:
    """Attach m = min(neighborhood(u) + {u}) to each edge row of ``e``
    (columns u, v) — one window shuffle on u, no join."""
    return e.withColumn(
        "m", F.min(F.least("u", "v")).over(Window.partitionBy("u")))


def connected_components(
    edges: DataFrame,
    max_iterations: int = CC_MAX_ITERATIONS,
) -> "tuple[DataFrame, int, bool]":
    """Alternating large-star / small-star connected components over a
    SYMMETRIC edge set ``(d1, d2)``; returns ``(labels, rounds,
    converged)`` where ``labels`` is ``(doc_id, label)`` with label = min
    doc_id reachable — the two-phase star contraction from the public
    MapReduce-CC literature (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), in place of a min-label propagation
    loop.

    State is the EDGE SET itself, kept canonical as (u, v) with u > v,
    not a label table joined against a static edge set every round:

    - large-star: per node u over its symmetric neighborhood, attach
      every LARGER neighbor to m = min(neighborhood + u). One window
      shuffle on u; no join.
    - small-star: per node u over its smaller neighbors, attach them
      (and u) to their min. Same single-shuffle shape.

    Both phases strictly contract: a k-clique collapses to a star in one
    large-star pass, and the surviving edge volume shrinks toward one
    edge per non-root node — so unlike label propagation (which drags
    the FULL edge set through every round), late rounds shuffle only the
    contracted remainder. A skewed hub's neighbors are re-attached
    directly to the component min rather than funneling every round
    through the hub's label row. Convergence is O(log^2 n) rounds worst
    case, O(log n) on real graphs — each phase at least halves
    min-to-node distances (the same bound the old pointer-halving loop
    had), with the edge-contraction saving on top. At extreme hub
    degrees (>~1 partition of edges on ONE node) the window over u
    serializes that node's neighborhood; the published fix is neighbor
    sampling inside large-star — not needed at current skew, noted for
    100 TB tuning.

    Both phases only ever connect nodes inside one component and only
    lower attachment targets, so the fixed point (every component a
    star rooted at its min) yields exactly the per-component min,
    identical to the recursive-CTE oracle. Each generation is cut from
    its lineage with eager ``cut_lineage`` (localCheckpoint; upgrades to
    reliable ``checkpoint`` when setCheckpointDir is configured) — the
    driver loop carries only per-round counts. Non-convergence at the
    iteration cap is LOUD (logging.warning), not silent — unconverged
    labels are still an over-segmentation (labels are smaller same-
    component neighbors), never a wrong merge."""
    import logging

    nodes = (edges.select(F.col("d1").alias("doc_id")).distinct()
             .transform(cut_lineage))
    e = (edges.filter(F.col("d1") != F.col("d2"))
         .select(F.greatest("d1", "d2").alias("u"),
                 F.least("d1", "d2").alias("v"))
         .distinct().transform(cut_lineage))
    n_old = e.count()
    rounds = 0
    converged = n_old == 0
    while not converged and rounds < max_iterations:
        rounds += 1
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star emits exactly ONE row per sym row with v > u — i.e.
        # one per canonical edge — so it needs no dedup of its own;
        # duplicates across emitters fall to small-star's final distinct.
        # Both phases chain in ONE plan with ONE materialization per
        # round (3 shuffles: sym window, large window, distinct).
        large = (_star_min(sym)
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")))
        with_m = _star_min(large)
        small = (with_m.select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(with_m.select("u", F.col("m").alias("v")))
                 .filter(F.col("u") != F.col("v"))
                 .distinct().transform(cut_lineage))
        n_new = small.count()
        if n_new == n_old:
            # equal-size DISTINCT sets are identical iff their union adds
            # nothing — one exact set-compare job, no hashing shortcut
            converged = (e.unionByName(small).distinct().count() == n_old)
        e, n_old = small, n_new
    if not converged:
        logging.getLogger(__name__).warning(
            "connected_components: iteration cap %d reached without "
            "convergence — labels are an over-segmentation, not the "
            "true components; raise max_iterations",
            max_iterations)
    # at the star fixed point every non-root u carries exactly (u, root);
    # the min-agg also gives safe (over-segmented, never merged) labels
    # when the cap was hit mid-contraction
    att = e.groupBy("u").agg(F.min("v").alias("lbl"))
    labels = (
        nodes.join(att, nodes.doc_id == att.u, "left")
        .select("doc_id",
                F.coalesce("lbl", F.col("doc_id")).alias("label"))
        .transform(cut_lineage)
    )
    return labels, rounds, converged


def _cc_label_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once duplicate-cluster labels (doc_id, label): the
    second handoff artifact after jaccard_pair_table — the CC loop runs
    once per (session, dataset) and dedup_connected_components,
    dedup_keep_canonical, and clean_corpus_manifest all consume the same
    materialized (already localCheckpointed) labels."""
    def build() -> DataFrame:
        pairs = jaccard_pair_table(spark, sf_dir).select("d1", "d2")
        edges = pairs.union(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
        )
        labels, _, _ = connected_components(edges)
        return labels
    return session_memo(spark, ("cc_labels", sf_dir), build)


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-duplicate PAIRS (the n-gram Jaccard graph) into
    CLUSTERS: component id = min doc_id reachable — what a dedup pipeline
    actually needs (keep one doc per cluster, not per pair). This is the
    one operator here that is a LOOP, not a single plan — the Pregel-lite
    shape Spark handles with iterative DataFrame joins; see
    ``connected_components`` for the O(log diameter) round bound."""
    return (
        _cc_label_table(spark, sf_dir)
        .select("doc_id", F.col("label").alias("component_id"))
        .orderBy("doc_id")
    )


# Oracle: min reachable label via a recursive CTE over the symmetric edge
# set; DuckDB's UNION-dedup recursion terminates because the reachable
# (node, label) space is finite.
CONNECTED_COMPONENTS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
edges AS (SELECT d1, d2 FROM pairs
          UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
nodes AS (SELECT DISTINCT d1 AS doc_id FROM edges),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM reach r JOIN edges e ON e.d2 = r.doc_id)
SELECT doc_id, MIN(label) AS component_id
FROM reach
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT table: one row per duplicate
    cluster with the canonical survivor (min doc_id), the member count,
    and the member list (joined string — the driver's canonicalizer
    cannot hash arrays). This is what a keep-one-per-cluster filter joins
    against when writing the cleaned corpus.

    Scale shape: the label table from connected_components is
    O(duplicated docs), far smaller than the corpus; one aggregation on
    component id. The members string is bounded by cluster size — at
    100 TB a pathological mega-cluster would switch this column to a
    sampled prefix, the counts stay exact. Consumes the memoized
    _cc_label_table — the pair join + CC loop run once per session even
    when the manifest query runs in the same sweep."""
    labels = _cc_label_table(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("concat_ws(',', transform(sort_array("
                   "collect_list(doc_id)), x -> CAST(x AS STRING)))")
            .alias("members"),
        )
        .orderBy("component_id")
    )


KEEP_CANONICAL_SQL = f"""
SELECT component_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM ({CONNECTED_COMPONENTS_SQL}) comp
GROUP BY component_id
ORDER BY component_id
"""


def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-aware canonicalization — the production alternative to
    min-id keep-canonical: within each duplicate cluster keep the
    LONGEST member (near-dup families usually contain truncated or
    boilerplate-stripped variants; min-id keeps an arbitrary one, this
    rule keeps the most complete). Tie on length falls to the smaller
    doc_id, so the survivor is total-ordered and both engines agree.
    Output per cluster: the survivor, its length, the member count, and
    how many docs a keep-one filter would drop.

    Scale shape: the label table is O(duplicated docs) (memoized CC
    artifact); one join to attach lengths and one max_by-style
    aggregation on component id — the struct max is a map-side
    combinable agg, no window over the corpus."""
    labels = _cc_label_table(spark, sf_dir)
    lens = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "length(text) AS doc_len")
    return (
        labels.join(lens, "doc_id")
        .groupBy(F.col("label").alias("component_id"))
        # max of (len, -doc_id) = longest member, ties to SMALLEST id
        .agg(F.max(F.struct(F.col("doc_len"),
                            (-F.col("doc_id")).alias("neg_id")))
             .alias("best"),
             F.count(F.lit(1)).cast("long").alias("n_members"))
        .selectExpr(
            "component_id",
            "-best.neg_id AS canonical_doc",
            "CAST(best.doc_len AS BIGINT) AS canonical_len",
            "n_members",
            "n_members - 1 AS n_dropped")
        .orderBy("component_id")
    )


KEEP_LONGEST_SQL = f"""
WITH comp AS ({CONNECTED_COMPONENTS_SQL}),
m AS (
  SELECT c.component_id, c.doc_id, length(d.text) AS doc_len,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY length(d.text) DESC, c.doc_id) AS rk
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
n AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM m GROUP BY component_id)
SELECT m.component_id, m.doc_id AS canonical_doc,
       CAST(m.doc_len AS BIGINT) AS canonical_len,
       n.n_members, n.n_members - 1 AS n_dropped
FROM m JOIN n ON n.component_id = m.component_id
WHERE m.rk = 1
ORDER BY m.component_id
"""


def dup_cluster_purity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-chaining audit for the duplicate clusters: connected
    components merge by REACHABILITY, so a cluster can contain member
    pairs that were never flagged as similar (A~B and B~C chain A and C
    together even when jaccard(A, C) is far below threshold). Before a
    keep-one-per-cluster delete, a curator wants to know which clusters
    are tight cliques and which are chains — per component:

    - n_flagged_pairs vs n_possible_pairs (n choose 2) and their ratio
      ``pair_density`` — density 1.0 is a clique (every member pair
      independently verified), low density is a chain held together by
      few edges;
    - min/max jaccard over the flagged edges (order-free aggregates, so
      the doubles hash cross-engine — no float summation);
    - ``fully_connected`` — the clusters safe to collapse on similarity
      evidence alone.

    Scale shape: both inputs are memoized handoff artifacts (the pair
    table and the CC label table — O(duplicated docs), far smaller than
    the corpus); one keyed join to attach labels, two map-side
    combinable aggregations on component id. No corpus scan at all."""
    pairs = jaccard_pair_table(spark, sf_dir)
    labels = _cc_label_table(spark, sf_dir)
    per_comp = (
        pairs.join(labels.select(F.col("doc_id").alias("d1"),
                                 F.col("label").alias("component_id")),
                   "d1")
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_flagged_pairs"),
             F.min("jaccard").alias("min_jaccard"),
             F.max("jaccard").alias("max_jaccard"))
    )
    sizes = (labels.groupBy(F.col("label").alias("component_id"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_members")))
    return (
        sizes.join(per_comp, "component_id")
        .selectExpr(
            "component_id", "n_members", "n_flagged_pairs",
            "CAST((n_members * (n_members - 1)) DIV 2 AS BIGINT)"
            " AS n_possible_pairs",
            "CAST(n_flagged_pairs AS DOUBLE)"
            " / CAST((n_members * (n_members - 1)) DIV 2 AS DOUBLE)"
            " AS pair_density",
            "min_jaccard", "max_jaccard",
            "n_flagged_pairs = (n_members * (n_members - 1)) DIV 2"
            " AS fully_connected")
        .orderBy("component_id")
    )


CLUSTER_PURITY_SQL = f"""
WITH comp AS ({CONNECTED_COMPONENTS_SQL}),
pr AS ({DEDUP_JACCARD_SQL}),
pc AS (
  SELECT c.component_id,
         CAST(COUNT(*) AS BIGINT) AS n_flagged_pairs,
         MIN(p.jaccard) AS min_jaccard,
         MAX(p.jaccard) AS max_jaccard
  FROM pr p JOIN comp c ON c.doc_id = p.d1
  GROUP BY c.component_id),
sz AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY component_id)
SELECT s.component_id, s.n_members, pc.n_flagged_pairs,
       CAST((s.n_members * (s.n_members - 1)) // 2 AS BIGINT)
         AS n_possible_pairs,
       CAST(pc.n_flagged_pairs AS DOUBLE)
         / CAST((s.n_members * (s.n_members - 1)) // 2 AS DOUBLE)
         AS pair_density,
       pc.min_jaccard, pc.max_jaccard,
       pc.n_flagged_pairs = (s.n_members * (s.n_members - 1)) // 2
         AS fully_connected
FROM sz s JOIN pc ON pc.component_id = s.component_id
ORDER BY s.component_id
"""


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split (dup-cluster-aware)
# ---------------------------------------------------------------------------
SPLIT_MOD = 10           # hash buckets: [0,8) train, 8 val, 9 test


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across the boundary: the split is a pure function of the document's
    duplicate-CLUSTER representative (its connected-component label; its
    own doc_id when unclustered), so an entire near-dup family lands
    wholly in one split. Splitting on doc_id alone is the classic eval
    contamination bug — a training doc's near-copy scores the eval set.
    80/10/10 via the cross-engine Knuth hash of the representative.

    Scale shape: one label attachment (the CC label table is
    O(duplicated docs), consumed from the session memo — it executes as
    a scale-safe sort-merge join on doc_id; corpora with small dup
    fractions would broadcast, but the plan does not depend on that)
    onto a slim (doc_id) projection; the hash is scan-local expression
    work — no corpus shuffle beyond the label join.

    Known caveat (inherent to cluster-keyed splits, not this
    implementation): as a corpus GROWS, a new document can bridge two
    clusters, merging them — the merged cluster takes a new min-label
    and every member's assignment may flip. Production pipelines
    therefore pin the split at a corpus snapshot (this operator's output
    is exactly that artifact) rather than recomputing it per ingest;
    ``leakage_safe_split_incremental`` below is the growth-step
    operator that consumes the pinned artifact without ever flipping
    it."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    labels = _cc_label_table(spark, sf_dir)
    bucket = f"({key_hash('cluster_rep')} % {SPLIT_MOD})"
    return (
        docs.join(labels, "doc_id", "left")
        .select("doc_id",
                F.coalesce("label", "doc_id").alias("cluster_rep"))
        .selectExpr(
            "doc_id", "cluster_rep",
            f"CASE WHEN {bucket} < 8 THEN 'train' "
            f"WHEN {bucket} = 8 THEN 'val' ELSE 'test' END AS split")
        .orderBy("doc_id")
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH labels AS (SELECT doc_id, component_id AS label
                FROM ({CONNECTED_COMPONENTS_SQL}) cc),
rep AS (
  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
SELECT doc_id, cluster_rep,
       CASE WHEN ({key_hash('cluster_rep')} % {SPLIT_MOD}) < 8 THEN 'train'
            WHEN ({key_hash('cluster_rep')} % {SPLIT_MOD}) = 8 THEN 'val'
            ELSE 'test' END AS split
FROM rep
ORDER BY doc_id
"""


def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-bias check on the leakage-safe split: per (split,
    source), the doc count, the source's share WITHIN the split, its
    share of the WHOLE corpus, and the delta — the audit that catches a
    split whose cluster-keyed hashing happened to concentrate one
    source (an eval set dominated by a single crawl measures that crawl,
    not the model). Deviations here are expected to be small-sample
    noise; a persistent large delta on a big source means the cluster
    structure correlates with source and the split needs stratified
    re-keying.

    Scale shape: one join of the split assignment against a slim
    (doc_id, source) projection, one (split, source) aggregation, and
    window sums over that tiny key space."""
    splits = leakage_safe_split(spark, sf_dir).select("doc_id", "split")
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    cell = (splits.join(src, "doc_id")
            .groupBy("split", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w_split = Window.partitionBy("split")
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    return (
        cell
        .withColumn("split_total",
                    F.sum("n_docs").over(w_split).cast("long"))
        .withColumn("source_total",
                    F.sum("n_docs").over(w_src).cast("long"))
        .withColumn("corpus_total",
                    F.sum("n_docs").over(w_all).cast("long"))
        .selectExpr(
            "split", "source", "n_docs", "split_total",
            "CAST(n_docs AS DOUBLE) / CAST(split_total AS DOUBLE)"
            " AS in_split_share",
            "CAST(source_total AS DOUBLE) / CAST(corpus_total AS DOUBLE)"
            " AS corpus_share",
            "CAST(n_docs AS DOUBLE) / CAST(split_total AS DOUBLE)"
            " - CAST(source_total AS DOUBLE) / CAST(corpus_total AS DOUBLE)"
            " AS share_delta")
        .orderBy("split", "source")
    )


SPLIT_BALANCE_SQL = f"""
WITH sp AS ({LEAKAGE_SAFE_SPLIT_SQL.replace("ORDER BY doc_id", "")}),
cell AS (
  SELECT sp.split, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM sp JOIN documents d ON d.doc_id = sp.doc_id
  GROUP BY sp.split, d.source),
tot AS (
  SELECT split, source, n_docs,
         CAST(SUM(n_docs) OVER (PARTITION BY split) AS BIGINT)
           AS split_total,
         CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
           AS source_total,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS corpus_total
  FROM cell)
SELECT split, source, n_docs, split_total,
       CAST(n_docs AS DOUBLE) / CAST(split_total AS DOUBLE)
         AS in_split_share,
       CAST(source_total AS DOUBLE) / CAST(corpus_total AS DOUBLE)
         AS corpus_share,
       CAST(n_docs AS DOUBLE) / CAST(split_total AS DOUBLE)
         - CAST(source_total AS DOUBLE) / CAST(corpus_total AS DOUBLE)
         AS share_delta
FROM tot
ORDER BY split, source
"""


# ---------------------------------------------------------------------------
# incremental leakage-safe split (pinned prior assignments)
# ---------------------------------------------------------------------------
def _cc_prior_label_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC labels over the PRIOR subgraph only (both endpoints prior) —
    what the frozen snapshot assignment was computed from. Memoized like
    the full-corpus labels; the pair table itself is shared, only the
    filter and the (smaller) CC loop are extra."""
    def build() -> DataFrame:
        is_prior_1 = (F.col("d1") % INCREMENTAL_MOD) < INCREMENTAL_NEW
        is_prior_2 = (F.col("d2") % INCREMENTAL_MOD) < INCREMENTAL_NEW
        pairs = (jaccard_pair_table(spark, sf_dir).select("d1", "d2")
                 .filter(is_prior_1 & is_prior_2))
        edges = pairs.union(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        labels, _, _ = connected_components(edges)
        return labels
    return session_memo(spark, ("cc_labels_prior", sf_dir), build)


def incremental_split_assign(docs: DataFrame, prior_assign: DataFrame,
                             full_labels: DataFrame) -> DataFrame:
    """Core of the incremental leakage-safe split — pure frame logic so a
    test can drive it with a hand-built merge scenario.

    Inputs: ``docs`` (doc_id) is the grown corpus; ``prior_assign``
    (doc_id, split) is the FROZEN snapshot artifact (never modified —
    the contract that distinguishes this from recomputing
    leakage_safe_split); ``full_labels`` (doc_id, label) are duplicate-
    cluster labels over the grown corpus.

    Assignment rules, per grown-corpus component:
    - prior docs keep their frozen split verbatim ('frozen') — history
      never flips, even when their clusters merged;
    - a new doc whose component's prior members all sit in ONE split
      inherits it ('inherited') — its near-dups stay on one side of
      every boundary;
    - a new doc whose component spans >= 2 prior splits goes to
      'quarantine' ('quarantine') — the merge EVIDENCE is surfaced (the
      n_prior_splits column), instead of silently flipping history or
      leaking the doc into either side;
    - a new doc in an all-new component gets the fresh hash assignment
      keyed on the component representative ('fresh') — same 80/10/10
      rule as the snapshot split, so whole new families land together.

    Scale shape: one left join to attach labels, one aggregation over
    components (key space = clusters, not docs), one broadcast-able
    rejoin; no corpus self-join. ``rep``, ``comp``, and ``prior_assign``
    each feed BOTH arms of the frozen/new union — they are materialized
    once (cut_lineage) instead of re-deriving their join subtrees per
    arm, which is what held this operator's plan at 26 shuffles (the
    widest in the registry; now the union arms read three checkpointed
    frames)."""
    prior_assign = prior_assign.transform(cut_lineage)
    rep = (docs.join(full_labels, "doc_id", "left")
           .select("doc_id", F.coalesce("label", "doc_id")
                   .alias("cluster_rep"))
           .transform(cut_lineage))
    comp = (rep.join(prior_assign, "doc_id")
            .groupBy("cluster_rep")
            .agg(F.countDistinct("split").alias("n_prior_splits"),
                 F.min("split").alias("prior_split"))
            .transform(cut_lineage))
    bucket = f"({key_hash('cluster_rep')} % {SPLIT_MOD})"
    fresh = (f"CASE WHEN {bucket} < 8 THEN 'train' "
             f"WHEN {bucket} = 8 THEN 'val' ELSE 'test' END")
    new_rows = (
        rep.join(prior_assign, "doc_id", "left_anti")
        .join(comp, "cluster_rep", "left")
        .selectExpr(
            "doc_id", "cluster_rep",
            f"CASE WHEN n_prior_splits IS NULL THEN {fresh} "
            f"WHEN n_prior_splits = 1 THEN prior_split "
            f"ELSE 'quarantine' END AS split",
            "CASE WHEN n_prior_splits IS NULL THEN 'fresh' "
            "WHEN n_prior_splits = 1 THEN 'inherited' "
            "ELSE 'quarantine' END AS status",
            "CAST(coalesce(n_prior_splits, 0) AS BIGINT)"
            " AS n_prior_splits")
    )
    frozen_rows = (
        prior_assign.join(rep, "doc_id")
        .join(comp, "cluster_rep", "left")
        .selectExpr("doc_id", "cluster_rep", "split",
                    "'frozen' AS status",
                    "CAST(coalesce(n_prior_splits, 0) AS BIGINT)"
                    " AS n_prior_splits")
    )
    return frozen_rows.unionByName(new_rows).orderBy("doc_id")


def leakage_safe_split_incremental(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """leakage_safe_split's documented caveat, closed: a growing corpus
    where a new doc can bridge two prior clusters. The prior corpus is
    doc_id % 10 < 8 (the same growth convention as
    dedup_incremental_minhash); its snapshot assignment is recomputed
    here as the deterministic stand-in for the frozen artifact a
    production pipeline would read from a table. New docs inherit /
    quarantine / get fresh assignments per incremental_split_assign —
    and the pytest growth scenario proves no prior assignment ever
    changes while a cross-split merge surfaces in the audit columns.

    Scale shape: two memoized CC label tables (full + prior subgraph,
    pair table shared), then the three-join assign core. The assembled
    per-doc assignment is itself session-memoized: it IS the pinned
    split artifact a deployment persists (the clean_corpus_manifest
    precedent), and memoizing it keeps the plan-width fix's
    three cut_lineage materializations a once-per-session cost instead
    of a per-read one."""
    def build() -> DataFrame:
        docs = t(spark, sf_dir, "documents").select("doc_id")
        prior_assign = _prior_assign(spark, sf_dir)
        full_labels = _cc_label_table(spark, sf_dir)
        return incremental_split_assign(
            docs, prior_assign, full_labels).transform(cut_lineage)
    return session_memo(spark, ("incremental_split", sf_dir), build) \
        .orderBy("doc_id")


def _prior_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen snapshot assignment (doc_id, split) over the prior
    corpus — shared by leakage_safe_split_incremental and the growth
    audit so their notion of "what was frozen" cannot drift."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    is_prior = (F.col("doc_id") % INCREMENTAL_MOD) < INCREMENTAL_NEW
    prior_labels = _cc_prior_label_table(spark, sf_dir)
    bucket = f"({key_hash('prior_rep')} % {SPLIT_MOD})"
    return (
        docs.filter(is_prior)
        .join(prior_labels, "doc_id", "left")
        .select("doc_id",
                F.coalesce("label", "doc_id").alias("prior_rep"))
        .selectExpr(
            "doc_id",
            f"CASE WHEN {bucket} < 8 THEN 'train' "
            f"WHEN {bucket} = 8 THEN 'val' ELSE 'test' END AS split")
    )


LEAKAGE_SPLIT_INCREMENTAL_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
edges AS (SELECT d1, d2 FROM pairs
          UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
nodes AS (SELECT DISTINCT d1 AS doc_id FROM edges),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM reach r JOIN edges e ON e.d2 = r.doc_id),
full_cc AS (SELECT doc_id, MIN(label) AS label FROM reach GROUP BY doc_id),
pedges AS (SELECT d1, d2 FROM edges
           WHERE d1 % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}
             AND d2 % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}),
pnodes AS (SELECT DISTINCT d1 AS doc_id FROM pedges),
preach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM pnodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM preach r JOIN pedges e ON e.d2 = r.doc_id),
prior_cc AS (SELECT doc_id, MIN(label) AS label FROM preach GROUP BY doc_id),
prior_assign AS (
  SELECT doc_id,
         CASE WHEN ({key_hash('prior_rep')} % {SPLIT_MOD}) < 8 THEN 'train'
              WHEN ({key_hash('prior_rep')} % {SPLIT_MOD}) = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT d.doc_id, COALESCE(p.label, d.doc_id) AS prior_rep
        FROM documents d LEFT JOIN prior_cc p ON p.doc_id = d.doc_id
        WHERE d.doc_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}) pr),
rep AS (
  SELECT d.doc_id, COALESCE(f.label, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN full_cc f ON f.doc_id = d.doc_id),
comp AS (
  SELECT r.cluster_rep, COUNT(DISTINCT pa.split) AS n_prior_splits,
         MIN(pa.split) AS prior_split
  FROM rep r JOIN prior_assign pa ON pa.doc_id = r.doc_id
  GROUP BY r.cluster_rep)
SELECT pa.doc_id, r.cluster_rep, pa.split, 'frozen' AS status,
       CAST(COALESCE(c.n_prior_splits, 0) AS BIGINT) AS n_prior_splits
FROM prior_assign pa
JOIN rep r ON r.doc_id = pa.doc_id
LEFT JOIN comp c ON c.cluster_rep = r.cluster_rep
UNION ALL
SELECT r.doc_id, r.cluster_rep,
       CASE WHEN c.n_prior_splits IS NULL THEN
              CASE WHEN ({key_hash('r.cluster_rep')} % {SPLIT_MOD}) < 8
                   THEN 'train'
                   WHEN ({key_hash('r.cluster_rep')} % {SPLIT_MOD}) = 8
                   THEN 'val' ELSE 'test' END
            WHEN c.n_prior_splits = 1 THEN c.prior_split
            ELSE 'quarantine' END AS split,
       CASE WHEN c.n_prior_splits IS NULL THEN 'fresh'
            WHEN c.n_prior_splits = 1 THEN 'inherited'
            ELSE 'quarantine' END AS status,
       CAST(COALESCE(c.n_prior_splits, 0) AS BIGINT) AS n_prior_splits
FROM rep r
LEFT JOIN comp c ON c.cluster_rep = r.cluster_rep
WHERE r.doc_id NOT IN (SELECT doc_id FROM prior_assign)
ORDER BY doc_id
"""


def split_growth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit table a curator reads after an ingest step: every
    grown-corpus component that contains BOTH prior and new documents —
    how many of each, how many distinct prior splits the component spans
    (with the spanning split names), and how the incremental assignment
    resolved its new docs ('inherited' when one split, 'quarantine' when
    the merge crosses splits). This is the surfaced-evidence half of
    leakage_safe_split_incremental's contract: history never flips, and
    this table is where the merges that WOULD have flipped it show up.

    Scale shape: the same memoized label tables as the incremental
    split; two component-keyed aggregations and one join over a key
    space of clusters, not docs. ``rep`` and ``prior_assign`` feed both
    aggregation arms — materialized once (cut_lineage), same plan-width
    fix as incremental_split_assign."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    prior_assign = _prior_assign(spark, sf_dir).transform(cut_lineage)
    rep = (docs.join(_cc_label_table(spark, sf_dir), "doc_id", "left")
           .select("doc_id", F.coalesce("label", "doc_id")
                   .alias("cluster_rep"))
           .transform(cut_lineage))
    prior_comp = (
        rep.join(prior_assign, "doc_id")
        .groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).cast("long").alias("n_prior"),
             F.countDistinct("split").cast("long").alias("n_prior_splits"),
             F.expr("concat_ws(',', array_sort(collect_set(split)))")
             .alias("spanned_splits")))
    new_comp = (
        rep.join(prior_assign, "doc_id", "left_anti")
        .groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    return (
        prior_comp.join(new_comp, "cluster_rep")
        .selectExpr(
            "cluster_rep", "n_prior", "n_new", "n_prior_splits",
            "spanned_splits",
            "CASE WHEN n_prior_splits = 1 THEN 'inherited' "
            "ELSE 'quarantine' END AS resolution")
        .orderBy("cluster_rep")
    )


SPLIT_GROWTH_AUDIT_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
edges AS (SELECT d1, d2 FROM pairs
          UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
nodes AS (SELECT DISTINCT d1 AS doc_id FROM edges),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM reach r JOIN edges e ON e.d2 = r.doc_id),
full_cc AS (SELECT doc_id, MIN(label) AS label FROM reach GROUP BY doc_id),
pedges AS (SELECT d1, d2 FROM edges
           WHERE d1 % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}
             AND d2 % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}),
pnodes AS (SELECT DISTINCT d1 AS doc_id FROM pedges),
preach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM pnodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM preach r JOIN pedges e ON e.d2 = r.doc_id),
prior_cc AS (SELECT doc_id, MIN(label) AS label FROM preach GROUP BY doc_id),
prior_assign AS (
  SELECT doc_id,
         CASE WHEN ({key_hash('prior_rep')} % {SPLIT_MOD}) < 8 THEN 'train'
              WHEN ({key_hash('prior_rep')} % {SPLIT_MOD}) = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT d.doc_id, COALESCE(p.label, d.doc_id) AS prior_rep
        FROM documents d LEFT JOIN prior_cc p ON p.doc_id = d.doc_id
        WHERE d.doc_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}) pr),
rep AS (
  SELECT d.doc_id, COALESCE(f.label, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN full_cc f ON f.doc_id = d.doc_id),
pd AS (SELECT DISTINCT r.cluster_rep, pa.split
       FROM rep r JOIN prior_assign pa ON pa.doc_id = r.doc_id),
prior_comp AS (
  SELECT r.cluster_rep,
         CAST(COUNT(*) AS BIGINT) AS n_prior
  FROM rep r JOIN prior_assign pa ON pa.doc_id = r.doc_id
  GROUP BY r.cluster_rep),
splits_comp AS (
  SELECT cluster_rep,
         CAST(COUNT(*) AS BIGINT) AS n_prior_splits,
         string_agg(split, ',' ORDER BY split) AS spanned_splits
  FROM pd GROUP BY cluster_rep),
new_comp AS (
  SELECT r.cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM rep r
  WHERE r.doc_id NOT IN (SELECT doc_id FROM prior_assign)
  GROUP BY r.cluster_rep)
SELECT p.cluster_rep, p.n_prior, n.n_new, s.n_prior_splits,
       s.spanned_splits,
       CASE WHEN s.n_prior_splits = 1 THEN 'inherited'
            ELSE 'quarantine' END AS resolution
FROM prior_comp p
JOIN splits_comp s ON s.cluster_rep = p.cluster_rep
JOIN new_comp n ON n.cluster_rep = p.cluster_rep
ORDER BY p.cluster_rep
"""

# ---------------------------------------------------------------------------
# corpus token-frequency histogram (Zipf diagnostics)
# ---------------------------------------------------------------------------
def token_frequency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-frequency histogram in power-of-two bands (the
    Zipf-shape diagnostic a curator reads to spot boilerplate floods or
    tokenizer pathologies): band = bit-length of the token's total count,
    so band b holds tokens occurring [2^(b-1), 2^b) times.

    Bit-length via length(bin(count)) — pure integer semantics, identical
    in both engines (a float log2 would disagree in the last bit exactly
    at band boundaries). Scale shape: explode -> two map-side-combinable
    hash aggregations (token, then band); the band key space is ~40 rows
    regardless of corpus size."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    per_token = (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr("explode_outer(toks) AS tok")
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_token
        .withColumn("freq_band", F.expr("CAST(length(bin(cnt)) AS BIGINT)"))
        .groupBy("freq_band")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("cnt").cast("long").alias("total_occurrences"))
        .orderBy("freq_band")
    )


TOKEN_HISTOGRAM_SQL = f"""
WITH toks AS (SELECT unnest({H.tokens('text', 'duck')}) AS tok
              FROM documents),
per_token AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
SELECT CAST(length(bin(cnt)) AS BIGINT) AS freq_band,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(cnt) AS BIGINT) AS total_occurrences
FROM per_token
GROUP BY freq_band
ORDER BY freq_band
"""


# ---------------------------------------------------------------------------
# RAG chunking
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping fixed-token windows (the RAG /
    context-window chunking pass): chunk i covers tokens
    [1 + i*stride, i*stride + CHUNK_TOKENS]. Whole-array expression work,
    scan-local; output rows ~ n_tokens/stride per doc. The trailing chunk
    is shorter; zero-token docs produce no chunks (explode_outer +
    null-filter, see the InferFiltersFromGenerate note in dedup.py)."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.selectExpr("doc_id",
                           f"{H.tokens('text', 'spark')} AS toks")
    return (
        toks.selectExpr(
            "doc_id", "toks",
            f"posexplode_outer(sequence(1, greatest(size(toks), 1), "
            f"{CHUNK_STRIDE})) AS (chunk_idx, start)",
        )
        .filter(F.col("start").isNotNull() & (F.size("toks") > 0))
        .selectExpr(
            "doc_id", "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            "CAST(start AS BIGINT) AS start_token",
            f"size(slice(toks, start, {CHUNK_TOKENS})) AS chunk_tokens",
            f"concat_ws(' ', slice(toks, start, {CHUNK_TOKENS})) AS chunk_text",
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
starts AS (
  SELECT doc_id, toks, CAST(u.i AS BIGINT) AS start,
         CAST((u.i - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(toks), 1) + 1,
                                    {CHUNK_STRIDE})) AS i) u
  WHERE len(toks) > 0)
SELECT doc_id, chunk_idx, start AS start_token,
       CAST(len(toks[start:start + {CHUNK_TOKENS} - 1]) AS BIGINT)
         AS chunk_tokens,
       list_aggregate(toks[start:start + {CHUNK_TOKENS} - 1],
                      'string_agg', ' ') AS chunk_text
FROM starts
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# repetition / token-concentration stats
# ---------------------------------------------------------------------------
def repetition_stats_df(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of repetition_stats, reused by the streaming
    per-microbatch variant (streaming/jobs.stream_quality_verdicts):
    input needs (doc_id, text). Per-doc stats are batch-independent, so
    incremental evaluation equals the batch result."""
    toks = (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr("doc_id", "explode_outer(toks) AS tok")
        .filter(F.col("tok").isNotNull())
    )
    per_token = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt"))
    return (
        per_token.groupBy("doc_id")
        .agg(F.sum("cnt").cast("long").alias("n_tokens"),
             F.max("cnt").cast("long").alias("top_token_count"),
             F.count(F.lit(1)).alias("n_distinct"))
        .select(
            "doc_id", "n_tokens", "top_token_count", "n_distinct",
            (F.col("top_token_count").cast("double")
             / F.col("n_tokens").cast("double")).alias("top_token_ratio"),
        )
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-concentration quality signal (the Gopher-style repetition
    rule): share of the document taken by its single most frequent token.
    Two map-side-combinable aggregations over the exploded token stream —
    the scan dominates at scale; no per-row quadratic array work."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    return repetition_stats_df(docs).orderBy("doc_id")


REPETITION_STATS_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({H.tokens('text', 'duck')}) AS tok
              FROM documents),
per_token AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(MAX(cnt) AS BIGINT) AS top_token_count,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
         AS top_token_ratio
FROM per_token
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# per-source corpus rollup
# ---------------------------------------------------------------------------
SHORT_DOC_CHARS = 100


def source_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report (the mix-composition table a data curator
    reads before weighting sources): volume, char mass, short-doc share,
    language spread. One map-side-combinable aggregation."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum((F.col("n_chars") < SHORT_DOC_CHARS).cast("long"))
            .cast("long").alias("n_short_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            "source", "n_docs", "total_chars", "n_short_docs", "n_langs",
            "first_doc",
            (F.col("total_chars").cast("double")
             / F.col("n_docs").cast("double")).alias("mean_chars"),
        )
        .orderBy("source")
    )


SOURCE_SUMMARY_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN n_chars < {SHORT_DOC_CHARS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_short_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MIN(doc_id) AS first_doc,
       CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_chars
FROM documents
GROUP BY source
ORDER BY source
"""


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights to rebalance the corpus toward a
    uniform source mix (the weighting table a data-mixture trainer
    consumes): weight = target_share / actual_share, so sources
    over-represented in the raw corpus get weight < 1. One aggregation;
    the share/weight arithmetic runs over the tiny per-source frame via
    window functions (both engines evaluate the identical IEEE division
    sequence, so doubles are bit-stable)."""
    docs = t(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    share = (F.col("n_docs").cast("double")
             / F.sum("n_docs").over(w).cast("double"))
    target = F.lit(1.0) / F.count(F.lit(1)).over(w).cast("double")
    return (
        per_source
        .select(
            "source", "n_docs",
            share.alias("actual_share"),
            (target / share).alias("weight"),
        )
        .orderBy("source")
    )


SOURCE_MIX_SQL = """
WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
SELECT source, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
         AS actual_share,
       (1.0 / CAST(COUNT(*) OVER () AS DOUBLE))
         / (CAST(n_docs AS DOUBLE)
            / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE))
         AS weight
FROM s
ORDER BY source
"""


# ---------------------------------------------------------------------------
# composite quality-filter verdicts
# ---------------------------------------------------------------------------
MIN_TOKENS = 20
MAX_TOKENS = 5_000
MAX_TOP_TOKEN_RATIO = 0.15


def quality_filter_verdicts_df(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of quality_filter_verdicts (shared with the
    streaming variant): (doc_id, text) in, attributable verdict out."""
    rep = repetition_stats_df(docs)
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("too_short"))
        .when(F.col("n_tokens") > MAX_TOKENS, F.lit("too_long"))
        .when(F.col("top_token_ratio") > MAX_TOP_TOKEN_RATIO,
              F.lit("repetitive"))
        .otherwise(F.lit("keep"))
    )
    return (
        rep.select("doc_id", "n_tokens", "top_token_ratio",
                   reason.alias("verdict"))
        .withColumn("keep", F.col("verdict") == "keep")
    )


def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision a filtering pipeline actually emits: rules
    evaluated in a fixed order, the FIRST failing rule is the recorded
    reason (so drop statistics are attributable). Rules here: token-count
    bounds, then token-concentration (repetition). Composes
    repetition_stats — one extra scan-local projection and a comparison
    chain; threshold comparisons on bit-identical doubles are
    engine-stable."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    return quality_filter_verdicts_df(docs).orderBy("doc_id")


QUALITY_FILTER_SQL = f"""
WITH rep AS ({REPETITION_STATS_SQL})
SELECT doc_id, n_tokens, top_token_ratio,
       CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
            WHEN n_tokens > {MAX_TOKENS} THEN 'too_long'
            WHEN top_token_ratio > {MAX_TOP_TOKEN_RATIO} THEN 'repetitive'
            ELSE 'keep' END AS verdict,
       CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
            WHEN n_tokens > {MAX_TOKENS} THEN 'too_long'
            WHEN top_token_ratio > {MAX_TOP_TOKEN_RATIO} THEN 'repetitive'
            ELSE 'keep' END = 'keep' AS keep
FROM rep
ORDER BY doc_id
"""


def clean_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE curation output: one keep/drop row per document with the first
    matching drop reason in fixed precedence — benchmark holdout >
    contamination > non-canonical duplicate > quality verdict. This is
    the manifest a corpus writer anti-joins against to materialize the
    cleaned training set, composing decontamination, duplicate-cluster
    resolution, and the quality rules into a single attributable table.

    Scale shape: three left joins on doc_id (the corpus partitioning is
    reused across them); the duplicate-label side is O(duplicated docs),
    far smaller than the corpus."""
    return manifest_table(spark, sf_dir).orderBy("doc_id")


def manifest_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once curation manifest — the third handoff artifact
    after the pair and label tables: training_sample_weights consumes it
    TWICE (kept-corpus mix counts + the final weight join), and without
    the memo each consumption re-runs the decontamination and quality
    scans plus three joins."""
    def build() -> DataFrame:
        docs = t(spark, sf_dir, "documents").select("doc_id")
        decon = decontaminate_ngram_overlap(spark, sf_dir) \
            .select("doc_id", "contaminated")
        dups = dedup_connected_components(spark, sf_dir)
        qual = quality_filter_verdicts(spark, sf_dir) \
            .select("doc_id", "verdict")
        m = (
            docs
            .withColumn("is_bench", F.expr(key_hash("doc_id")) < BENCH_RATE)
            .join(decon, "doc_id", "left")
            .join(dups, "doc_id", "left")
            .join(qual, "doc_id", "left")
        )
        reason = (
            F.when(F.col("is_bench"), F.lit("benchmark"))
            .when(F.coalesce("contaminated", F.lit(False)),
                  F.lit("contaminated"))
            .when(F.col("component_id").isNotNull()
                  & (F.col("component_id") != F.col("doc_id")),
                  F.lit("duplicate"))
            # a doc with NO verdict row tokenized to zero tokens (the
            # repetition stats explode drops it) — that is 'too_short'
            # under MIN_TOKENS, not a quality pass; without the coalesce
            # the NULL != 'keep' comparison is NULL-falsy and the empty
            # doc would slip into the cleaned corpus as 'keep'
            .when(F.coalesce(F.col("verdict"), F.lit("too_short"))
                  != "keep",
                  F.coalesce(F.col("verdict"), F.lit("too_short")))
            .otherwise(F.lit("keep"))
        )
        return (
            m.select("doc_id", reason.alias("reason"))
            .withColumn("keep", F.col("reason") == "keep")
            .transform(cut_lineage)
        )
    return session_memo(spark, ("clean_manifest", sf_dir), build)


CLEAN_MANIFEST_SQL = f"""
WITH q AS (SELECT doc_id, verdict FROM ({QUALITY_FILTER_SQL}) x),
comp AS (SELECT doc_id, component_id
         FROM ({CONNECTED_COMPONENTS_SQL}) x),
decon AS (SELECT doc_id, contaminated FROM ({ORACLES["decontaminate_ngram_overlap"]}) x),
reasons AS (
  SELECT d.doc_id,
         CASE WHEN {key_hash('d.doc_id')} < {BENCH_RATE} THEN 'benchmark'
              WHEN COALESCE(decon.contaminated, FALSE) THEN 'contaminated'
              WHEN comp.component_id IS NOT NULL
                   AND comp.component_id != d.doc_id THEN 'duplicate'
              WHEN COALESCE(q.verdict, 'too_short') != 'keep'
                   THEN COALESCE(q.verdict, 'too_short')
              ELSE 'keep' END AS reason
  FROM documents d
  LEFT JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN comp ON comp.doc_id = d.doc_id
  LEFT JOIN decon ON decon.doc_id = d.doc_id)
SELECT doc_id, reason, reason = 'keep' AS keep
FROM reasons
ORDER BY doc_id
"""


CURATION_STAGES = [
    (1, "benchmark_holdout", ("benchmark",)),
    (2, "decontamination", ("contaminated",)),
    (3, "deduplication", ("duplicate",)),
    (4, "quality", ("too_short", "too_long", "repetitive")),
]


def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE run summary a curator reads after a curation pass: the
    document and token counts surviving each gate of the manifest's
    precedence chain (corpus -> benchmark holdout -> decontamination ->
    deduplication -> quality), plus what each stage dropped. Because
    the manifest attributes every doc to its FIRST failing gate, the
    funnel is exact: n_remaining(stage) = n_remaining(prev) -
    n_dropped_here, and the final row's counts are exactly the cleaned
    corpus a writer materializes.

    Scale shape: one join of the memoized manifest against a slim
    token-count projection, one per-reason aggregation (key space =
    reasons), and window arithmetic over the 5-row stage frame."""
    return _funnel_frame(spark, sf_dir, manifest_table(spark, sf_dir))


def _funnel_frame(spark: SparkSession, sf_dir: str,
                  man: DataFrame) -> DataFrame:
    """Shared funnel body over any (doc_id, reason) manifest — the
    lexical-gate curation manifest and the five-screen-closure training
    manifest produce the same stage frame."""
    toks = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"size({H.tokens('text', 'spark')}) AS n_toks")
    stage_case = "CASE " + " ".join(
        f"WHEN reason IN ({', '.join(repr(r) for r in reasons)})"
        f" THEN {idx}"
        for idx, _, reasons in CURATION_STAGES) + " ELSE NULL END"
    drops = (
        man.join(toks, "doc_id")
        .selectExpr(f"{stage_case} AS stage_idx", "n_toks")
        .filter(F.col("stage_idx").isNotNull())
        .groupBy("stage_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"),
             F.sum("n_toks").cast("long").alias("toks_dropped"))
    )
    totals = (man.join(toks, "doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_total"),
                   F.sum("n_toks").cast("long").alias("toks_total")))
    stages = spark.createDataFrame(
        [(0, "corpus")] + [(i, s) for i, s, _ in CURATION_STAGES],
        "stage_idx int, stage string")
    w = (Window.orderBy("stage_idx")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        stages.join(F.broadcast(drops), "stage_idx", "left")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "stage_idx", "stage",
            "CAST(coalesce(n_dropped, 0) AS BIGINT) AS n_dropped_here",
            "n_total", "toks_total",
            "CAST(coalesce(toks_dropped, 0) AS BIGINT) AS td")
        .withColumn("n_remaining",
                    (F.col("n_total")
                     - F.sum("n_dropped_here").over(w)).cast("long"))
        .withColumn("tokens_remaining",
                    (F.col("toks_total") - F.sum("td").over(w))
                    .cast("long"))
        .select("stage_idx", "stage", "n_dropped_here",
                "n_remaining", "tokens_remaining")
        .orderBy("stage_idx")
    )


def _funnel_oracle(manifest_sql: "str | None" = None) -> str:
    stage_case = "CASE " + " ".join(
        f"WHEN reason IN ({', '.join(repr(r) for r in reasons)})"
        f" THEN {idx}"
        for idx, _, reasons in CURATION_STAGES) + " ELSE NULL END"
    stage_rows = " UNION ALL ".join(
        ["SELECT 0 AS stage_idx, 'corpus' AS stage"]
        + [f"SELECT {i}, '{s}'" for i, s, _ in CURATION_STAGES])
    return f"""
WITH man AS ({manifest_sql or CLEAN_MANIFEST_SQL}),
tk AS (SELECT doc_id, len({H.tokens('text', 'duck')}) AS n_toks
       FROM documents),
j AS (SELECT m.doc_id, m.reason, tk.n_toks,
             {stage_case} AS stage_idx
      FROM man m JOIN tk ON tk.doc_id = m.doc_id),
drops AS (
  SELECT stage_idx, CAST(COUNT(*) AS BIGINT) AS n_dropped,
         CAST(SUM(n_toks) AS BIGINT) AS toks_dropped
  FROM j WHERE stage_idx IS NOT NULL GROUP BY stage_idx),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(n_toks) AS BIGINT) AS toks_total FROM j),
stages AS ({stage_rows})
SELECT s.stage_idx, s.stage,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped_here,
       CAST(t.n_total - SUM(COALESCE(d.n_dropped, 0))
            OVER (ORDER BY s.stage_idx ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS n_remaining,
       CAST(t.toks_total - SUM(COALESCE(d.toks_dropped, 0))
            OVER (ORDER BY s.stage_idx ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS tokens_remaining
FROM stages s
LEFT JOIN drops d ON d.stage_idx = s.stage_idx
CROSS JOIN tot t
ORDER BY s.stage_idx
"""


def materialize_clean_corpus(spark: SparkSession, sf_dir: str,
                             out_dir: str,
                             partition_by: "tuple[str, ...]" = ("lang",),
                             manifest: DataFrame | None = None) -> dict:
    """The write path the manifest exists for: semi-join the corpus
    against its keep set and write partitioned parquet — the cleaned
    training corpus a downstream tokenizer reads.

    Scale shape: one semi-join on doc_id (the manifest's keep side
    projects a single column), then a repartition on the partition keys
    so each output partition writes a bounded number of files instead of
    one file per (task, partition-value) pair — at 100 TB the
    partition-count knob is what separates a readable layout from a
    small-file explosion."""
    docs = t(spark, sf_dir, "documents")
    manifest = manifest if manifest is not None \
        else clean_corpus_manifest(spark, sf_dir)
    keep = manifest.filter(F.col("keep")).select("doc_id")
    cleaned = docs.join(keep, "doc_id", "left_semi")
    target = max(spark.sparkContext.defaultParallelism // 4, 1)
    (cleaned.repartition(target, *[F.col(c) for c in partition_by])
     .write.mode("overwrite").partitionBy(*partition_by).parquet(out_dir))
    written = spark.read.parquet(out_dir)
    return {"input_docs": docs.count(), "kept_docs": written.count()}


# registered ahead of decontaminate_bloom: registry order is the oracle
# sweep's tiebreak (__spark_entry__._reorder)
QUERIES.update({
    "pack_sequences": pack_sequences,
    "pack_efficiency_stats": pack_efficiency_stats,
    "stratified_sample": stratified_sample,
    "ngram_topk": ngram_topk,
    "boilerplate_ngram_fraction": boilerplate_ngram_fraction,
    "dedup_connected_components": dedup_connected_components,
    "dedup_keep_canonical": dedup_keep_canonical,
    "dedup_keep_longest": dedup_keep_longest,
    "dup_cluster_purity_audit": dup_cluster_purity_audit,
    "curation_funnel_report": curation_funnel_report,
    "split_balance_audit": split_balance_audit,
    "leakage_safe_split": leakage_safe_split,
    "leakage_safe_split_incremental": leakage_safe_split_incremental,
    "split_growth_audit": split_growth_audit,
    "token_frequency_histogram": token_frequency_histogram,
    "chunk_documents": chunk_documents,
    "repetition_stats": repetition_stats,
    "source_quality_summary": source_quality_summary,
    "source_mix_weights": source_mix_weights,
    "quality_filter_verdicts": quality_filter_verdicts,
    "clean_corpus_manifest": clean_corpus_manifest,
})
ORACLES.update({
    "pack_sequences": PACK_SEQUENCES_SQL,
    "pack_efficiency_stats": PACK_EFFICIENCY_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "ngram_topk": NGRAM_TOPK_SQL,
    "boilerplate_ngram_fraction": BOILERPLATE_FRACTION_SQL,
    "dedup_connected_components": CONNECTED_COMPONENTS_SQL,
    "dedup_keep_canonical": KEEP_CANONICAL_SQL,
    "dedup_keep_longest": KEEP_LONGEST_SQL,
    "dup_cluster_purity_audit": CLUSTER_PURITY_SQL,
    "curation_funnel_report": _funnel_oracle(),
    "split_balance_audit": SPLIT_BALANCE_SQL,
    "leakage_safe_split": LEAKAGE_SAFE_SPLIT_SQL,
    "leakage_safe_split_incremental": LEAKAGE_SPLIT_INCREMENTAL_SQL,
    "split_growth_audit": SPLIT_GROWTH_AUDIT_SQL,
    "token_frequency_histogram": TOKEN_HISTOGRAM_SQL,
    "chunk_documents": CHUNK_DOCUMENTS_SQL,
    "repetition_stats": REPETITION_STATS_SQL,
    "source_quality_summary": SOURCE_SUMMARY_SQL,
    "source_mix_weights": SOURCE_MIX_SQL,
    "quality_filter_verdicts": QUALITY_FILTER_SQL,
    "clean_corpus_manifest": CLEAN_MANIFEST_SQL,
})


@_lexical_entry
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the scale path when the benchmark
    shingle set itself is too large to broadcast raw: only the set-bit
    positions (bounded by BLOOM_M regardless of benchmark size) cross the
    cluster. A corpus shingle is bloom-positive when BOTH its bit
    positions are set; per-doc counts of bloom-positive shingles are a
    superset of the exact overlap counts (false positives possible, false
    negatives impossible — pinned by a test against
    decontaminate_ngram_overlap).

    Scale shape: the bits side is <= BLOOM_M distinct ints -> broadcast
    semi-joins; corpus explodes once; one map-side-combinable count.
    Reads the memoized _bench_shingled artifact: three consuming
    branches (bits, corpus explode, roll-up base) re-tokenized the
    corpus per branch before."""
    sh = _bench_shingled(spark, sf_dir)
    return bloom_screen_frame(sh.filter(~F.col("is_bench")),
                              _bloom_bit_set(sh.filter("is_bench")))\
        .orderBy("doc_id")


def _bloom_bit_set(suite: DataFrame) -> DataFrame:
    """Distinct set-bit positions (bit) of the suite docs' shingles.
    explode(array(...)) of a scan-local value is safe (size(CreateArray)
    constant-folds; no InferFiltersFromGenerate blowup)."""
    return (
        suite.select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .selectExpr(f"explode({_bloom_bits('s')}) AS bit")
        .distinct()
    )


def bloom_screen_frame(corpus: DataFrame, bits: DataFrame) -> DataFrame:
    """Shared verdict body of the bloom screen — corpus shingles
    (doc_id, sh) against the suite's set bits (bit): two broadcast
    semi-joins and one per-doc count, for the batch and streaming
    forms."""
    ex = (
        corpus.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .selectExpr("doc_id", f"{_bloom_bits('s')}[0] AS b1",
                    f"{_bloom_bits('s')}[1] AS b2")
    )
    hits = (
        ex.join(F.broadcast(bits).withColumnRenamed("bit", "b1"),
                "b1", "left_semi")
        .join(F.broadcast(bits).withColumnRenamed("bit", "b2"),
              "b2", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0))
             >= CONTAMINATION_MIN_SHINGLES).alias("maybe_contaminated"),
        )
    )


BPE_TOP_K = 30


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus word counts,
    then adjacent-character-pair frequencies weighted by word count — the
    top pair is the first merge a BPE trainer would perform.

    Scale shape: two map-side-combinable aggregations (word counts
    shuffle on word, pair counts on pair — both heavy-hitter-friendly
    partial aggs) and a TakeOrderedAndProject top-K; the pair explode
    runs over the DISTINCT word list, not the corpus."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.selectExpr(f"explode_outer({H.tokens('text', 'spark')}) AS word")
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = (
        words.selectExpr(
            "word", "cnt",
            "explode_outer(CASE WHEN length(word) >= 2 THEN "
            "transform(sequence(1, length(word) - 1), "
            "i -> concat(substr(word, i, 1), '+', substr(word, i + 1, 1))) "
            "ELSE array() END) AS pair",
        )
        .filter(F.col("pair").isNotNull())
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("total_count"),
             F.countDistinct("word").alias("n_word_types"))
        .orderBy(F.col("total_count").desc(), F.col("pair"))
        .limit(BPE_TOP_K)
    )


BPE_PAIR_SQL = f"""
WITH w AS (SELECT unnest({H.tokens('text', 'duck')}) AS word FROM documents),
wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY word),
p AS (SELECT word, cnt,
             unnest(list_transform(range(1, length(word)),
                    i -> substr(word, i, 1) || '+' || substr(word, i + 1, 1)))
               AS pair
      FROM wc)
SELECT pair, CAST(SUM(cnt) AS BIGINT) AS total_count,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_word_types
FROM p
GROUP BY pair
ORDER BY total_count DESC, pair
LIMIT {BPE_TOP_K}
"""


UNIGRAM_VOCAB = 256  # top-V corpus vocabulary kept for LM scoring


def unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the classic corpus-statistics
    quality signal (KenLM-style filtering without the LM binary): pass 1
    builds corpus unigram counts and keeps the top-{UNIGRAM_VOCAB}
    vocabulary (count DESC, token ASC tiebreak); pass 2 scores every
    document against that vocabulary: in-vocab token mass, OOV count,
    and mean corpus frequency per token.

    Scale shape: pass 1 is explode -> map-side-combinable count with a
    bounded top-V (TakeOrderedAndProject) collected to the driver — the
    vocabulary is a broadcast-sized artifact embedded as a map literal.
    Pass 2 is then a pure scan-local fold per document (no explode, no
    join, no shuffle): the per-token lookup runs inside whole-stage
    codegen against the constant-folded map. Exact integer arithmetic
    throughout; the one double is a single IEEE division of
    bit-identical BIGINTs."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
    tok = (toks.selectExpr("explode_outer(toks) AS tok")
           .filter(F.col("tok").isNotNull()))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n_total = counts.agg(F.sum("cnt").alias("n")).collect()[0]["n"] or 0
    vocab = (counts.orderBy(F.col("cnt").desc(), F.col("tok"))
             .limit(UNIGRAM_VOCAB).collect())
    entries: list = []
    for r in vocab:
        entries += [F.lit(r["tok"]), F.lit(int(r["cnt"]))]
    vocab_map = F.create_map(*entries) if entries \
        else F.expr("map('', CAST(0 AS BIGINT))")
    zero = F.lit(0).cast("long")
    scored = toks.withColumn("vmap", vocab_map).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.filter(
            "toks", lambda tk: F.try_element_at(F.col("vmap"), tk).isNull()
        )).cast("long").alias("n_oov"),
        F.aggregate(
            "toks", zero,
            lambda acc, tk: acc + F.coalesce(
                F.try_element_at(F.col("vmap"), tk), zero),
        ).alias("vocab_mass"),
    )
    return scored.select(
        "doc_id", "n_tokens", "n_oov", "vocab_mass",
        F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("vocab_mass").cast("double")
                   / (F.col("n_tokens") * F.lit(int(n_total))).cast("double"))
        .alias("mean_token_freq"),
    ).orderBy("doc_id")


UNIGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tok GROUP BY tok),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
vocab AS (SELECT tok, cnt FROM counts
          ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
scored AS (
  SELECT tk.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         CAST(COALESCE(SUM(v.cnt), 0) AS BIGINT) AS vocab_mass
  FROM tok tk LEFT JOIN vocab v USING (tok)
  GROUP BY tk.doc_id)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.n_oov, 0) AS n_oov,
       COALESCE(s.vocab_mass, 0) AS vocab_mass,
       CASE WHEN COALESCE(s.n_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(s.vocab_mass AS DOUBLE)
                 / CAST(s.n_tokens * (SELECT n FROM total) AS DOUBLE)
       END AS mean_token_freq
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# temperature-scaled language mixing weights
# ---------------------------------------------------------------------------
def temperature_boosts(per: DataFrame) -> DataFrame:
    """(lang, n_docs) -> (lang, n_docs, actual_share, temp_share,
    sample_boost) under alpha = 0.5 temperature scaling. The ONE
    order-sensitive step — the normalizer Z = sum_i sqrt(p_i) — is a
    language-sorted sequential fold so both engines add in identical
    order; shared by temperature_mix_weights and
    training_sample_weights so the determinism-critical fold exists
    exactly once."""
    w = Window.partitionBy()
    sc = per.select(
        "lang", "n_docs",
        (F.col("n_docs").cast("double")
         / F.sum("n_docs").over(w).cast("double")).alias("actual_share"),
    ).withColumn("scaled", F.sqrt("actual_share"))
    z = sc.agg(F.expr(
        "aggregate(transform(array_sort(collect_list(struct(lang, scaled))),"
        " s -> s.scaled), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    ).alias("z"))
    return (sc.crossJoin(F.broadcast(z))
            .select("lang", "n_docs", "actual_share",
                    (F.col("scaled") / F.col("z")).alias("temp_share"),
                    ((F.col("scaled") / F.col("z")) / F.col("actual_share"))
                    .alias("sample_boost")))


def _temp_sql_ctes(src: str) -> str:
    """The tot/sc/z/boosts CTE chain over a `{src}(lang, n_docs)` CTE —
    the SQL twin of temperature_boosts, emitted once for both
    consumers."""
    return f"""tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM {src}),
sc AS (SELECT lang, n_docs,
              CAST(n_docs AS DOUBLE)
                / CAST((SELECT total FROM tot) AS DOUBLE) AS actual_share,
              sqrt(CAST(n_docs AS DOUBLE)
                / CAST((SELECT total FROM tot) AS DOUBLE)) AS scaled
       FROM {src}),
z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(scaled ORDER BY lang)), (acc, x) -> acc + x) AS z
      FROM sc),
boosts AS (
  SELECT lang,
         (scaled / (SELECT z FROM z)) / actual_share AS sample_boost
  FROM sc)"""


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling shares per language: p_i^alpha
    renormalized, with alpha = 0.5 (the multilingual-training standard
    from the XLM-R / mBERT recipes) — up-samples tail languages without
    flattening the mix to uniform the way source_mix_weights does.

    alpha = 0.5 keeps every step inside correctly-rounded IEEE ops
    (sqrt, *, /) — a general pow() carries no cross-engine bit guarantee.
    The ONE order-sensitive step, the normalizer Z = sum_i sqrt(p_i), is
    a sequential fold over the language-sorted list rather than a SUM()
    — per-group state is bounded by the (domain-bounded) language count,
    and both engines add in identical order, so every double
    hash-matches. One corpus aggregation; everything after runs on the
    tiny per-language frame."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return temperature_boosts(per).orderBy("lang")


TEMPERATURE_MIX_SQL = f"""
WITH per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY lang),
{_temp_sql_ctes('per')}
SELECT lang, n_docs, actual_share,
       scaled / (SELECT z FROM z) AS temp_share,
       (scaled / (SELECT z FROM z)) / actual_share AS sample_boost
FROM sc
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# PageRank over the near-duplicate graph (exact fixed-point arithmetic)
# ---------------------------------------------------------------------------
PAGERANK_ITERS = 8
PAGERANK_SCALE = 10 ** 12  # fixed-point: score 1.0 == 10^12
# Join-strategy cutover for the iteration loop: at or below this node
# count the per-iteration scores/inbound frames (16 bytes/row + hash
# relation overhead, ~50-150 MB at the cap) are BROADCAST so the
# edge-sized side never shuffles inside the loop; above it the loop
# falls back to plain joins (localCheckpoint reports
# UnknownPartitioning, so the fallback shuffles both sides per
# iteration — no worse than plain per-iteration joins, and the
# planner is free to hash the node-sized side). Strategy only — both
# branches compute identical fixed-point scores.
PAGERANK_BROADCAST_MAX_NODES = 2_000_000


def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate graph (jaccard pairs,
    symmetrized) — the signal that picks the most-connected member of a
    duplicate cluster as its canonical representative, and the engine's
    demonstration of an ITERATIVE numeric graph algorithm under the
    oracle gate.

    Determinism design: the whole computation runs in fixed-point BIGINT
    (score 1.0 = 10^12). Every step — teleport (15% of base), damping
    (85/100), per-edge contribution (score div degree) — is integer
    multiply/divide on positive values, where Spark's `div` and DuckDB's
    `//` agree exactly; float PageRank would drift across engines at the
    first SUM. The iteration count is FIXED ({PAGERANK_ITERS}), so the
    oracle is the same recurrence unrolled into CTE generations.

    Scale shape: the degree is attached to the
    edge ONCE up front (aggregate degrees per src, join back, one-time
    materialization) — `score div deg` per edge is arithmetically
    identical to the old per-src contribution join, so the loop needs
    ONE join instead of two. Per iteration the only exchange is the
    combinable SUM per dst: the node-sized scores frame is broadcast
    into the edge join and the node-sized inbound aggregate is
    broadcast into the nodes left join (guarded by
    PAGERANK_BROADCAST_MAX_NODES; a per-src contribution join
    re-shuffles the edge set twice per iteration). A window-based
    degree attach was measured and rejected: the per-partition sort
    under the window cost more than the aggregate+join build at every
    SF tried. Each generation is cut
    from its lineage with localCheckpoint (the connected-components
    lesson — and the broadcast build would otherwise recompute every
    prior generation). No dangling-mass term: the symmetrized edge set
    gives every node degree >= 1."""
    pairs = jaccard_pair_table(spark, sf_dir).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"),
                                 F.col("d1").alias("d2")))
        .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    )
    # degree attached once: partial-aggregated groupBy (node-sized
    # output) joined back onto the edges, then materialized so the loop
    # never re-derives it; outdeg is node-sized so the planner
    # broadcasts it when it fits
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(outdeg, "src").transform(cut_lineage)
    nodes = (edges_deg.select(F.col("src").alias("doc_id")).distinct()
             .transform(cut_lineage))
    n = nodes.count()
    base = PAGERANK_SCALE // max(n, 1)
    teleport = (15 * base) // 100
    bcast = (F.broadcast if n <= PAGERANK_BROADCAST_MAX_NODES
             else (lambda df: df))
    scores = nodes.withColumn("score", F.lit(base).cast("long"))
    for _ in range(PAGERANK_ITERS):
        inbound = (
            edges_deg.join(bcast(scores.withColumnRenamed("doc_id", "src")),
                           "src")
            .selectExpr("dst", "score div deg AS c")
            .groupBy("dst").agg(F.sum("c").alias("inb"))
        )
        scores = (
            nodes.join(bcast(inbound.withColumnRenamed("dst", "doc_id")),
                       "doc_id", "left")
            .selectExpr(
                "doc_id",
                f"CAST({teleport} AS BIGINT) + (85 * coalesce(inb, "
                f"CAST(0 AS BIGINT))) div 100 AS score")
            .transform(cut_lineage)
        )
    return scores.orderBy("doc_id")


def _pagerank_oracle() -> str:
    its = []
    for i in range(PAGERANK_ITERS):
        its.append(f"""
it{i + 1} AS (
  SELECT nd.doc_id,
         (15 * ({PAGERANK_SCALE} // (SELECT n FROM nn))) // 100
         + (85 * COALESCE(agg.inb, 0)) // 100 AS score
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS doc_id,
           CAST(SUM(p.score // o.deg) AS BIGINT) AS inb
    FROM it{i} p
    JOIN outdeg o ON o.src = p.doc_id
    JOIN edges e ON e.src = p.doc_id
    GROUP BY e.dst) agg
  ON agg.doc_id = nd.doc_id)""")
    return f"""
WITH pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) x),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL
          SELECT d2 AS src, d1 AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
           FROM edges GROUP BY src),
it0 AS (SELECT doc_id,
               {PAGERANK_SCALE} // (SELECT n FROM nn) AS score
        FROM nodes),{",".join(its)}
SELECT doc_id, CAST(score AS BIGINT) AS score
FROM it{PAGERANK_ITERS}
ORDER BY doc_id
"""


PAGERANK_SQL = _pagerank_oracle()


# ---------------------------------------------------------------------------
# end-to-end sampling weights (manifest x temperature mixing)
# ---------------------------------------------------------------------------
def training_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a training dataloader actually consumes: one sampling
    weight per document, composing the curation manifest (drop reasons ->
    weight 0) with temperature mixing computed over the KEPT corpus —
    mixing shares must reflect the post-filter language distribution, not
    the raw one, or the dedup/quality drops skew the mix.

    Scale shape: the manifest joins are clean_corpus_manifest's; on top
    of them sit one combinable per-language count over kept docs and a
    broadcast of the (domain-bounded) per-language weight table. The
    order-sensitive normalizer is the same language-sorted sequential
    fold as temperature_mix_weights."""
    man = manifest_table(spark, sf_dir)
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = man.filter(F.col("keep")).join(langs, "doc_id")
    per = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    boosts = temperature_boosts(per).select("lang", "sample_boost")
    return (
        man.join(langs, "doc_id")
        .join(F.broadcast(boosts), "lang", "left")
        .select(
            "doc_id", "lang", "reason", "keep",
            F.when(F.col("keep"), F.col("sample_boost"))
            .otherwise(F.lit(0.0)).alias("weight"),
        )
        .orderBy("doc_id")
    )


TRAINING_WEIGHTS_SQL = f"""
WITH man AS (SELECT * FROM ({CLEAN_MANIFEST_SQL}) x),
kept AS (
  SELECT m.doc_id, d.lang
  FROM man m JOIN documents d USING (doc_id) WHERE m.keep),
per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM kept GROUP BY lang),
{_temp_sql_ctes('per')}
SELECT m.doc_id, d.lang, m.reason, m.keep,
       CASE WHEN m.keep THEN b.sample_boost
            ELSE CAST(0 AS DOUBLE) END AS weight
FROM man m
JOIN documents d USING (doc_id)
LEFT JOIN boosts b USING (lang)
ORDER BY m.doc_id
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------
TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP_K} terms by TF-IDF — the classic
    keyword/topic signal a curator uses for corpus browsing, per-domain
    vocabulary drift, and cheap topic clustering.

    IDF is the LINEAR form n_docs/df rather than ln(n_docs/df): the
    ranking it induces per document is identical (ln is monotone) and it
    keeps the score inside IEEE basic ops — one multiply and one divide
    of exactly-representable integers, correctly rounded and therefore
    bit-identical in Spark and DuckDB, where ln() carries no such
    guarantee in the last ulp.

    Scale shape: explode -> map-side-combinable (doc, term) count; the
    document-frequency table derives from that SAME aggregate (one corpus
    scan total) with a second combinable agg on term; the tf<->df join is
    a keyed shuffle on term (both sides already aggregated — no raw-token
    pair space); the per-doc top-K is row_number over (doc_id), which
    Spark executes as WindowGroupLimit — per-group state is K rows, so
    the window survives documents of any length and corpora of any size."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    n_docs = docs.count()
    # materialized once per (session, dataset): tf
    # feeds BOTH the document-frequency aggregate and the score join,
    # and Spark reuses neither subtree (0 ReusedExchange at runtime) —
    # without the cut the whole corpus-sized tokenize -> explode ->
    # (doc, term) count pipeline executed twice per invocation
    # (measured ~1.15x at sf0.1, and at scale the duplicated
    # pass is the dominant cost). Memoizing means repeat
    # calls in one session stop re-running the materialization job; the
    # executor-loss caveat of localCheckpoint is centralized in
    # cut_lineage.
    def build_tf() -> DataFrame:
        tok = (docs.selectExpr("doc_id",
                               f"{H.tokens('text', 'spark')} AS toks")
               .selectExpr("doc_id", "explode_outer(toks) AS term")
               .filter(F.col("term").isNotNull()))
        return (tok.groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("tf"))
                .transform(cut_lineage))
    tf = session_memo(spark, ("tfidf_tf", sf_dir), build_tf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf").cast("double") * F.lit(float(n_docs))
             / F.col("df").cast("double")).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf",
                F.col("rnk").cast("long").alias("rnk"))
        .orderBy("doc_id", "rnk")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({H.tokens('text', 'duck')}) AS term
             FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n)
           / CAST(dfreq.df AS DOUBLE) AS tfidf
  FROM tf JOIN dfreq USING (term)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, rnk
"""


QUERIES.update({
    "unigram_lm_scores": unigram_lm_scores,
    "bpe_pair_counts": bpe_pair_counts,
    "tfidf_top_terms": tfidf_top_terms,
    "temperature_mix_weights": temperature_mix_weights,
    "training_sample_weights": training_sample_weights,
    "pagerank_dup_graph": pagerank_dup_graph,
})

ORACLES.update({
    "unigram_lm_scores": UNIGRAM_LM_SQL,
    "bpe_pair_counts": BPE_PAIR_SQL,
    "tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
    "temperature_mix_weights": TEMPERATURE_MIX_SQL,
    "training_sample_weights": TRAINING_WEIGHTS_SQL,
    "pagerank_dup_graph": PAGERANK_SQL,
})


# ---------------------------------------------------------------------------
# bigram conditional-probability scoring
# ---------------------------------------------------------------------------
BIGRAM_FP = 1_000_000  # fixed-point scale for each conditional ratio


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM scoring — the conditional-probability quality signal one
    step up from unigram_lm_scores: for every bigram (w1, w2) in a
    document, the MLE ratio count(w1 w2) / count(w1), averaged per
    document. Low scores flag word-salad documents whose individual
    tokens are common but whose transitions are not.

    Determinism: each ratio is computed in fixed-point INTEGER arithmetic
    ((count_bigram * {BIGRAM_FP}) div count_w1 — Spark's div and DuckDB's
    // agree exactly on positives), so the per-document SUM is order-free
    BIGINT math and the one double division happens once at the end. No
    vocab cap and no map literal needed: both count tables join back to
    the occurrences (the denominator is the corpus occurrence count of
    w1, the standard MLE approximation that ignores document-final
    positions).

    Scale shape: one explode for bigrams, two combinable count
    aggregations, two keyed shuffle joins of occurrence rows against the
    (aggregated, much smaller) count tables, one combinable per-doc sum.
    Ratio values are <= {BIGRAM_FP}, so per-doc sums stay far under
    2^63 for any document length."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
    bg = toks.selectExpr(
        "doc_id",
        "CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(1, size(toks) - 1), i -> "
        "concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
        "END AS bgs")
    pairs = (bg.selectExpr("doc_id", "explode_outer(bgs) AS b")
             .filter(F.col("b").isNotNull())
             .withColumn("w1", F.expr("split_part(b, ' ', 1)")))
    bcnt = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    ucnt = (toks.selectExpr("explode_outer(toks) AS tok")
            .filter(F.col("tok").isNotNull())
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cu")))
    scored = (
        pairs.join(bcnt, "b")
        .join(ucnt.withColumnRenamed("tok", "w1"), "w1")
        .selectExpr("doc_id",
                    f"(cb * CAST({BIGRAM_FP} AS BIGINT)) div cu AS r_fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("r_fp").alias("sum_fp"))
    )
    return (
        docs.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.coalesce("sum_fp", F.lit(0)).cast("long").alias("sum_fp"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0,
                   F.lit(None).cast("double"))
            .otherwise(F.col("sum_fp").cast("double")
                       / F.lit(float(BIGRAM_FP))
                       / F.col("n_bigrams").cast("double"))
            .alias("cond_score"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
bg AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(range(1, len(toks)),
              i -> concat(toks[i], ' ', toks[i + 1]))
         END AS bgs
  FROM toks),
pairs AS (
  SELECT doc_id, u.b, split_part(u.b, ' ', 1) AS w1
  FROM bg, LATERAL (SELECT unnest(bgs) AS b) u),
bcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY b),
tok AS (SELECT unnest(toks) AS tok FROM toks),
ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM tok GROUP BY tok),
scored AS (
  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((bcnt.cb * {BIGRAM_FP}) // ucnt.cu) AS BIGINT) AS sum_fp
  FROM pairs p
  JOIN bcnt ON bcnt.b = p.b
  JOIN ucnt ON ucnt.tok = p.w1
  GROUP BY p.doc_id)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.sum_fp, 0) AS sum_fp,
       CASE WHEN COALESCE(s.n_bigrams, 0) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(s.sum_fp AS DOUBLE) / CAST('{float(BIGRAM_FP)!r}' AS DOUBLE)
                 / CAST(s.n_bigrams AS DOUBLE)
       END AS cond_score
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""

QUERIES["bigram_lm_scores"] = bigram_lm_scores
ORACLES["bigram_lm_scores"] = BIGRAM_LM_SQL


# ---------------------------------------------------------------------------
# source-level vocabulary overlap (corpus drift / comparison report)
# ---------------------------------------------------------------------------
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of the DISTINCT token vocabularies of
    every source pair — the corpus-drift report a curator reads when a
    new crawl lands: a source whose vocabulary suddenly diverges from
    its peers signals a scraper regression or content shift.

    Scale shape: the (source, token) vocabulary is one distinct
    aggregation; the pair counts come from the token-keyed self-join of
    that ALREADY-AGGREGATED table (rows = vocab size x sources, not
    corpus tokens), and the pair space is sources^2 — domain-bounded,
    nothing like the document pair space. Jaccard is one integer-fed
    IEEE division."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    vocab = (docs.selectExpr("source",
                             f"explode_outer({H.tokens('text', 'spark')})"
                             " AS tok")
             .filter(F.col("tok").isNotNull())
             .select("source", "tok").distinct())
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("s1"), "tok")
    b = vocab.select(F.col("source").alias("s2"), "tok")
    common = (a.join(b, "tok")
              .filter(F.col("s1") < F.col("s2"))
              .groupBy("s1", "s2")
              .agg(F.count(F.lit(1)).alias("common")))
    return (
        common
        .join(sizes.select(F.col("source").alias("s1"),
                           F.col("n").alias("n1")), "s1")
        .join(sizes.select(F.col("source").alias("s2"),
                           F.col("n").alias("n2")), "s2")
        .select(
            "s1", "s2", "common", "n1", "n2",
            (F.col("common").cast("double")
             / (F.col("n1") + F.col("n2") - F.col("common"))
             .cast("double")).alias("vocab_jaccard"),
        )
        .orderBy("s1", "s2")
    )


SOURCE_VOCAB_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT source, u.tok
  FROM documents,
       LATERAL (SELECT unnest({H.tokens('text', 'duck')}) AS tok) u
  WHERE u.tok IS NOT NULL),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM vocab GROUP BY source),
cm AS (
  SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS common
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT s1, s2, common, x.n AS n1, y.n AS n2,
       CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE)
         AS vocab_jaccard
FROM cm JOIN sizes x ON x.source = s1 JOIN sizes y ON y.source = s2
ORDER BY s1, s2
"""

QUERIES["source_vocab_overlap"] = source_vocab_overlap
ORACLES["source_vocab_overlap"] = SOURCE_VOCAB_SQL


# ---------------------------------------------------------------------------
# per-source quality deciles (adaptive filtering thresholds)
# ---------------------------------------------------------------------------
def quality_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decile boundaries of document length (the cheap quality
    proxy): NTILE(10) within each source ordered deterministically, then
    per-decile count and char-range — the table an ADAPTIVE quality
    filter consults instead of one global threshold (a source of long
    documents shouldn't have its short tail judged by a global bar).

    Scale shape: one window shuffle on source (NTILE carries O(1) state),
    one combinable aggregation on (source, decile) — 200 output rows
    regardless of corpus size."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select("source", "doc_id", "n_chars",
                    F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
        .orderBy("source", "decile")
    )


QUALITY_DECILES_SQL = """
SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM (SELECT source, doc_id, n_chars,
             CAST(NTILE(10) OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS BIGINT)
               AS decile
      FROM documents)
GROUP BY source, decile
ORDER BY source, decile
"""

QUERIES["quality_deciles_by_source"] = quality_deciles_by_source
ORACLES["quality_deciles_by_source"] = QUALITY_DECILES_SQL


# ---------------------------------------------------------------------------
# per-document shingle novelty (first-occurrence attribution)
# ---------------------------------------------------------------------------
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-gram shingles whose corpus-wide FIRST occurrence (minimum doc_id)
    is this document. Curators read this as "how much genuinely new
    content does each document contribute" — near-1 for fresh content,
    near-0 for recombinations of text already in the corpus; it is the
    incremental-value signal a dataset ablation starts from.

    Scale shape: the exploded (doc_id, shingle) index shuffles once on
    the shingle to attach the per-shingle min doc_id as a window
    aggregate (no self-join), then once on doc_id for the per-document
    fraction — both aggregations map-side combinable, state O(1) per
    key. Nothing quadratic: rows = total distinct shingles per doc,
    the same cardinality the MinHash pipeline already processes."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import shingled_docs
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    ex = (shingled_docs(docs, non_empty=True)
          .select("doc_id", F.explode_outer("sh").alias("s"))
          .filter(F.col("s").isNotNull()))
    w = Window.partitionBy("s")
    attributed = ex.select(
        "doc_id", "s",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_first"))
    return (
        attributed.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.when(F.col("is_first"), 1).otherwise(0))
             .cast("long").alias("n_novel"))
        .select("doc_id", "n_shingles", "n_novel",
                (F.col("n_novel").cast("double")
                 / F.col("n_shingles").cast("double")).alias("novelty"))
        .orderBy("doc_id")
    )


SHINGLE_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
sh AS (
  SELECT doc_id, {H.shingle_hashes(H.token_hashes('toks', 'duck'), 'duck')}
           AS sh
  FROM toks WHERE len(toks) > 0),
ex AS (
  SELECT doc_id, u.s
  FROM sh, LATERAL (SELECT unnest(sh.sh) AS s) u
  WHERE u.s IS NOT NULL),
attributed AS (
  SELECT doc_id, s,
         doc_id = MIN(doc_id) OVER (PARTITION BY s) AS is_first
  FROM ex)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM attributed
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["shingle_novelty_scores"] = shingle_novelty_scores
ORACLES["shingle_novelty_scores"] = SHINGLE_NOVELTY_SQL


# ---------------------------------------------------------------------------
# winnowing fingerprint selection (MOSS-style local-minimum sampling)
# ---------------------------------------------------------------------------
WINNOW_WINDOW = 4


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): slide a window
    of WINNOW_WINDOW consecutive k-gram hashes and keep the minimum of
    each window; the distinct kept hashes are the document fingerprint.
    Guarantees any shared run of >= w+k-1 tokens between two documents
    shares at least one fingerprint, at ~2/(w+1) the density of the full
    k-gram set — the standard way to cut fingerprint volume ~60% without
    losing long-match detection.

    Scale shape: entirely scan-local array expressions (sequence /
    transform / array_min) inside whole-stage codegen — zero shuffle,
    zero Python; the one aggregation-free projection emits per-doc
    fingerprint statistics. Short docs (< w windows) collapse to a
    single whole-array minimum, the winnowing boundary case."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    w = WINNOW_WINDOW
    grams = H.ordered_shingle_hashes("th", "spark")
    return (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .filter(F.size("toks") > 0)
        .selectExpr("doc_id", f"{H.token_hashes('toks', 'spark')} AS th")
        .selectExpr("doc_id", f"{grams} AS g")
        .selectExpr(
            "doc_id",
            "size(g) AS n_kgrams",
            f"array_distinct(transform("
            f"sequence(1, greatest(size(g) - {w} + 1, 1)), "
            f"i -> array_min(slice(g, i, {w})))) AS fps")
        .selectExpr("doc_id", "n_kgrams",
                    "size(fps) AS n_fingerprints",
                    "array_min(fps) AS min_fp",
                    "array_max(fps) AS max_fp")
        .orderBy("doc_id")
    )


WINNOWING_SQL = f"""
WITH toks AS (
  SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (
  SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th
  FROM toks WHERE len(toks) > 0),
grams AS (
  SELECT doc_id, {H.ordered_shingle_hashes('th', 'duck')} AS g
  FROM th),
fps AS (
  SELECT doc_id, len(g) AS n_kgrams,
         list_distinct(list_transform(
           range(1, greatest(len(g) - {WINNOW_WINDOW} + 1, 1) + 1),
           i -> list_min(g[i:i + {WINNOW_WINDOW} - 1]))) AS fps
  FROM grams)
SELECT doc_id, CAST(n_kgrams AS INT) AS n_kgrams,
       CAST(len(fps) AS INT) AS n_fingerprints,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM fps
ORDER BY doc_id
"""

QUERIES["winnowing_fingerprints"] = winnowing_fingerprints
ORACLES["winnowing_fingerprints"] = WINNOWING_SQL


# ---------------------------------------------------------------------------
# duplicate-cluster size histogram (dedup yield report)
# ---------------------------------------------------------------------------
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate cluster sizes plus the byte yield of
    deduplicating each bucket — the one-page report that says what
    fraction of the corpus dedup will delete BEFORE anyone runs it.

    Scale shape: content-hash aggregation (one shuffle, map-side
    combinable), then a second tiny aggregation on cluster size;
    output rows = number of distinct cluster sizes (tens)."""
    docs = t(spark, sf_dir, "documents")
    clusters = (
        docs.selectExpr(
            "doc_id", "n_chars",
            f"md5(concat_ws(' ', {H.tokens('text', 'spark')}))"
            " AS content_hash")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("cluster_size"),
             F.sum("n_chars").alias("cluster_chars"),
             F.min("n_chars").alias("kept_chars")))
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"),
             F.sum("cluster_chars").alias("total_chars"),
             F.sum(F.col("cluster_chars") - F.col("kept_chars"))
             .alias("removable_chars"))
        .orderBy("cluster_size")
    )


DUP_HISTOGRAM_SQL = f"""
WITH clusters AS (
  SELECT md5(coalesce(list_aggregate({H.tokens('text', 'duck')}, 'string_agg', ' '), ''))
           AS content_hash,
         CAST(COUNT(*) AS BIGINT) AS cluster_size,
         SUM(n_chars) AS cluster_chars,
         MIN(n_chars) AS kept_chars
  FROM documents GROUP BY 1)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_chars) AS BIGINT) AS total_chars,
       CAST(SUM(cluster_chars - kept_chars) AS BIGINT) AS removable_chars
FROM clusters
GROUP BY cluster_size
ORDER BY cluster_size
"""

QUERIES["dup_cluster_size_histogram"] = dup_cluster_size_histogram
ORACLES["dup_cluster_size_histogram"] = DUP_HISTOGRAM_SQL


# ---------------------------------------------------------------------------
# per-language length trimming (outlier removal between percentile bands)
# ---------------------------------------------------------------------------
TRIM_LO = 0.05
TRIM_HI = 0.95


def length_trim_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents whose length falls inside the [5%, 95%] percentile
    band WITHIN their language — the CCNet-style outlier trim that drops
    truncated fragments and concatenation blobs without a hand-tuned
    global threshold (quality_deciles_by_source reports the thresholds;
    this op APPLIES the trim and returns the surviving rows).

    Scale shape: one window shuffle on lang with O(1) ranking state; the
    percent position is (rank-1)/(n-1) over a deterministic total order,
    so the band boundary is bit-identical across engines."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    return (
        docs.select("doc_id", "lang", "n_chars",
                    F.row_number().over(w).alias("rn"),
                    F.count(F.lit(1)).over(wn).alias("n_lang"))
        .select("doc_id", "lang", "n_chars",
                # a single-doc language has no distribution to trim: the
                # doc IS its language's median, so pin pct to 0.5 and keep
                # it (ANSI Spark would raise DIVIDE_BY_ZERO on 0/0;
                # DuckDB would NULL it out and silently DROP the row)
                F.when(F.col("n_lang") == 1, F.lit(0.5))
                .otherwise((F.col("rn") - 1).cast("double")
                           / (F.col("n_lang") - 1).cast("double"))
                .alias("len_pct"))
        .filter((F.col("len_pct") >= TRIM_LO) & (F.col("len_pct") <= TRIM_HI))
        .orderBy("doc_id")
    )


LENGTH_TRIM_SQL = f"""
SELECT doc_id, lang, n_chars, len_pct
FROM (
  SELECT doc_id, lang, n_chars,
         CASE WHEN COUNT(*) OVER (PARTITION BY lang) = 1 THEN 0.5
              ELSE CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY n_chars, doc_id) - 1
                        AS DOUBLE)
                   / CAST(COUNT(*) OVER (PARTITION BY lang) - 1 AS DOUBLE)
         END AS len_pct
  FROM documents)
WHERE len_pct >= {TRIM_LO} AND len_pct <= {TRIM_HI}
ORDER BY doc_id
"""

QUERIES["length_trim_filter"] = length_trim_filter
ORACLES["length_trim_filter"] = LENGTH_TRIM_SQL


# ---------------------------------------------------------------------------
# BPE merge learning (iterative tokenizer training, driver-looped)
# ---------------------------------------------------------------------------
BPE_MERGES = 5


def _bpe_apply_merge(sym_col: str, left: str, right: str) -> str:
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol array — the standard BPE application step, as one Spark SQL
    aggregate with (out, skip) state. Symbols come from [a-z0-9] tokens,
    so the literals never need escaping."""
    return (
        f"aggregate(sequence(1, size({sym_col})), "
        f"struct(CAST(array() AS array<string>) AS out, false AS skip), "
        f"(acc, i) -> CASE "
        f"WHEN acc.skip THEN struct(acc.out AS out, false AS skip) "
        f"WHEN i < size({sym_col}) "
        f"AND element_at({sym_col}, i) = '{left}' "
        f"AND element_at({sym_col}, i + 1) = '{right}' "
        f"THEN struct(concat(acc.out, array('{left}{right}')) AS out, "
        f"true AS skip) "
        f"ELSE struct(concat(acc.out, array(element_at({sym_col}, i))) "
        f"AS out, false AS skip) END, "
        f"acc -> acc.out)"
    )


def _bpe_learn(spark: SparkSession, sf_dir: str,
               n_merges: int = BPE_MERGES):
    """The BPE training loop, memoized per (session, dataset): returns
    (merges, final_words) where merges = [(rank, left, right, count)]
    and final_words is the vocabulary with all learned merges applied —
    shared by bpe_learn_merges (emits the merge table) and
    bpe_encode_stats (measures the compression the merges buy).

    Scale shape: the corpus collapses to the DISTINCT-word + count table
    first (vocabulary-sized, not corpus-sized — the standard BPE trick),
    so each round is one map-side-combinable pair count over the vocab
    plus a 1-row argmax collect; the merge application is scan-local
    array work. Each generation is localCheckpoint-cut like the other
    driver loops (CC/k-means/PageRank) so plans stay constant-size."""
    def build():
        docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
        words = (docs.selectExpr(
                 f"explode({H.tokens('text', 'spark')}) AS w")
                 .groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
                 .selectExpr("split(w, '') AS sym", "wc")
                 .transform(cut_lineage))
        merges = []
        for rank in range(1, n_merges + 1):
            pairs = (words.filter(F.size("sym") >= 2)
                     .selectExpr(
                         "wc",
                         "explode(transform(sequence(1, size(sym) - 1), "
                         "i -> struct(element_at(sym, i) AS l, "
                         "element_at(sym, i + 1) AS r))) AS p")
                     .groupBy("p.l", "p.r")
                     .agg(F.sum("wc").alias("pair_count")))
            top = (pairs.orderBy(F.desc("pair_count"), "l", "r").limit(1)
                   .collect())
            if not top:
                break
            left, right, cnt = top[0].l, top[0].r, top[0].pair_count
            merges.append((rank, left, right, int(cnt)))
            words = (words.selectExpr(
                f"{_bpe_apply_merge('sym', left, right)} AS sym", "wc")
                .transform(cut_lineage))
        return (merges, words)
    return session_memo(spark, ("bpe_learn", sf_dir, n_merges), build)


def bpe_learn_merges(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus: start
    from character symbols, repeatedly (1) count adjacent symbol pairs
    weighted by word frequency, (2) take the most frequent pair
    (deterministic lexicographic tie-break), (3) apply it greedily
    left-to-right everywhere. Returns (rank, left, right, pair_count) —
    the head of the merge table a tokenizer trainer produces. See
    _bpe_learn for the loop and its scale shape."""
    merges, _ = _bpe_learn(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long")


def _bpe_ctes(n_merges: int = BPE_MERGES) -> "tuple[list[str], list[str]]":
    """Unrolled-CTE DuckDB twin of the BPE loop (the PageRank technique
    applied to the other iterative driver loop): one CTE generation per
    merge round. Returns (ctes, picks) — picks are the per-round top-1
    selects; the final generation g{n} carries the fully-merged vocab.
    The greedy left-to-right non-overlapping merge is plain string
    replace() over a boundary-wrapped symbol string ('|sym||sym|...') —
    replace scans left-to-right without rescanning its own output, which
    IS the BPE application order (fuzz-verified against the (out, skip)
    fold on 3000 random symbol/merge cases; safe because tokens are
    strictly [a-z0-9]+, so '|' never collides). DuckDB v1.0.0's
    list_reduce corrupts list-typed struct-accumulator fields, so a
    direct fold translation is not available."""
    ctes = [
        f"toks AS (SELECT unnest({H.tokens('text', 'duck')}) AS w "
        f"FROM documents)",
        "words AS (SELECT w, COUNT(*) AS wc FROM toks GROUP BY w)",
        "g0 AS (SELECT '|' || list_aggregate(list_transform("
        "range(1, len(w) + 1), i -> w[i]), 'string_agg', '||') || '|' "
        "AS txt, wc FROM words)",
    ]
    picks = []
    for k in range(1, n_merges + 1):
        ctes.append(
            f"s{k} AS (SELECT string_split(substring(txt, 2, "
            f"length(txt) - 2), '||') AS sym, wc FROM g{k - 1})")
        ctes.append(
            f"p{k} AS (SELECT pr.l AS lft, pr.r AS rgt, "
            f"SUM(wc) AS pair_count FROM ("
            f"SELECT unnest(list_transform(range(1, len(sym)), i -> "
            f"{{'l': sym[i], 'r': sym[i + 1]}})) AS pr, wc "
            f"FROM s{k} WHERE len(sym) >= 2) GROUP BY 1, 2)")
        ctes.append(
            f"t{k} AS (SELECT lft, rgt, pair_count FROM p{k} "
            f"ORDER BY pair_count DESC, lft, rgt LIMIT 1)")
        ctes.append(
            f"g{k} AS (SELECT replace(g.txt, "
            f"'|' || t.lft || '||' || t.rgt || '|', "
            f"'|' || t.lft || t.rgt || '|') AS txt, g.wc "
            f"FROM g{k - 1} g, t{k} t)")
        picks.append(
            f"SELECT {k} AS rank, lft AS \"left\", rgt AS \"right\", "
            f"CAST(pair_count AS BIGINT) AS pair_count FROM t{k}")
    return ctes, picks


def _bpe_oracle(n_merges: int = BPE_MERGES) -> str:
    ctes, picks = _bpe_ctes(n_merges)
    return ("WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
            + " UNION ALL ".join(picks) + ") ORDER BY rank")


QUERIES["bpe_learn_merges"] = bpe_learn_merges
ORACLES["bpe_learn_merges"] = _bpe_oracle()


def bpe_encode_stats(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES) -> DataFrame:
    """What the learned merges actually BUY: corpus token counts before
    (character symbols) and after applying all n_merges merges, and the
    compression ratio — the number a tokenizer trainer watches to decide
    whether more merges are still paying. One row: distinct words, total
    word occurrences, symbols before/after (occurrence-weighted), ratio.

    Scale shape: consumes the memoized _bpe_learn vocabulary (the loop
    runs once per session even when bpe_learn_merges swept first); both
    aggregates are single map-side-combinable folds over the
    vocabulary-sized table, never the corpus."""
    _, words = _bpe_learn(spark, sf_dir, n_merges)
    return words.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
        F.sum("wc").cast("long").alias("total_words"),
        F.sum(F.expr("wc * aggregate(sym, 0, (a, s) -> a + length(s))"))
        .cast("long").alias("symbols_before"),
        F.sum(F.col("wc") * F.size("sym")).cast("long")
        .alias("symbols_after"),
    ).selectExpr(
        "n_distinct_words", "total_words", "symbols_before",
        "symbols_after",
        "CAST(symbols_before AS DOUBLE) / CAST(symbols_after AS DOUBLE)"
        " AS compression")


def _bpe_encode_oracle(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_ctes(n_merges)
    return ("WITH " + ",\n".join(ctes) + f""",
fin AS (SELECT string_split(substring(txt, 2, length(txt) - 2), '||')
        AS sym, wc FROM g{n_merges})
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(wc) AS BIGINT) AS total_words,
       CAST(SUM(wc * list_reduce(list_prepend(0,
            list_transform(sym, s -> length(s))), (a, x) -> a + x))
            AS BIGINT) AS symbols_before,
       CAST(SUM(wc * len(sym)) AS BIGINT) AS symbols_after,
       CAST(SUM(wc * list_reduce(list_prepend(0,
            list_transform(sym, s -> length(s))), (a, x) -> a + x))
            AS DOUBLE)
         / CAST(SUM(wc * len(sym)) AS DOUBLE) AS compression
FROM fin""")


QUERIES["bpe_encode_stats"] = bpe_encode_stats
ORACLES["bpe_encode_stats"] = _bpe_encode_oracle()


def _pack_assignments(enc: DataFrame) -> DataFrame:
    """Sharded greedy pack assignment over an (doc_id, n_bpe) frame —
    pure frame logic so the zero-token boundary case is unit-testable.
    Adds (shard, cum, pack_id, off) with the mask invariant
    0 <= off < PACK_BUDGET_TOKENS for EVERY doc: a zero-token doc has
    no last token, so floor((cum-1)/BUDGET) would point it at the
    PREVIOUS pack when its cum sits exactly on a pack boundary, making
    off == BUDGET. Empty docs instead take the pack a next nonzero doc
    would START in — floor(cum/BUDGET) — so their off is always the
    next write position (mirrored in the DuckDB oracle)."""
    w = Window.partitionBy("shard").orderBy("doc_id") \
              .rowsBetween(Window.unboundedPreceding, 0)
    return (
        enc.selectExpr("doc_id",
                       f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
                       "n_bpe")
        .withColumn("cum", F.sum("n_bpe").over(w).cast("long"))
        .withColumn(
            "pack_id",
            F.when(F.col("n_bpe") == 0,
                   F.floor(F.col("cum") / PACK_BUDGET_TOKENS))
            .otherwise(
                F.greatest(F.floor((F.col("cum") - 1) / PACK_BUDGET_TOKENS),
                           F.lit(0))).cast("long"))
        .withColumn(
            "off",
            F.greatest(F.col("cum") - F.col("n_bpe")
                       - F.col("pack_id") * PACK_BUDGET_TOKENS,
                       F.lit(0)).cast("long"))
    )


def pack_bpe_sequences(spark: SparkSession, sf_dir: str,
                       n_merges: int = BPE_MERGES) -> DataFrame:
    """The last mile from learned merges to training input: encode every
    document with the BPE vocabulary (per-word merged-symbol counts from
    the memoized _bpe_learn table — the loop never re-runs), pack the
    encoded token streams into fixed-budget rows with the same sharded
    greedy rule as pack_sequences, and emit per pack the DOCUMENT-
    BOUNDARY MASK: the ordered start offsets of each document inside the
    pack (the attention-reset points a trainer feeds alongside the token
    row; a doc spilling in from the previous pack clamps to offset 0 —
    the continuation convention). Whole documents only, deterministic,
    oracle-checkable integer logic throughout.

    Scale shape: one corpus explode joined against the vocabulary-sized
    encoding map, one per-shard window cumsum (no global sort — one
    packing stream per output shard, which is how 100 TB packs), one
    per-pack aggregation; boundary strings are bounded by docs-per-pack."""
    _, words = _bpe_learn(spark, sf_dir, n_merges)
    vocab = words.selectExpr("concat_ws('', sym) AS w",
                             "size(sym) AS n_sym")
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    doc_toks = docs.selectExpr(
        "doc_id",
        f"explode_outer({H.tokens('text', 'spark')}) AS w")
    enc = (doc_toks.join(vocab, "w", "left")
           .groupBy("doc_id")
           .agg(F.sum(F.coalesce("n_sym", F.lit(0))).cast("long")
                .alias("n_bpe")))
    packed = _pack_assignments(enc)
    return (
        packed.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_bpe").cast("long").alias("pack_tokens"),
             F.expr("concat_ws(',', transform(array_sort("
                    "collect_list(struct(doc_id, off))), "
                    "x -> CAST(x.off AS STRING)))").alias("boundaries"))
        .select("shard", "pack_id", "n_docs", "pack_tokens",
                (F.col("pack_tokens").cast("double")
                 / float(PACK_BUDGET_TOKENS)).alias("utilization"),
                "boundaries")
        .orderBy("shard", "pack_id")
    )


def _pack_bpe_oracle(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_ctes(n_merges)
    return ("WITH " + ",\n".join(ctes) + f""",
vocab AS (
  SELECT replace(txt, '|', '') AS w,
         len(string_split(substring(txt, 2, length(txt) - 2), '||'))
           AS n_sym
  FROM g{n_merges}),
dt AS (SELECT doc_id, unnest({H.tokens('text', 'duck')}) AS w
       FROM documents),
enc0 AS (SELECT dt.doc_id, SUM(v.n_sym) AS n_bpe
         FROM dt JOIN vocab v USING (w) GROUP BY dt.doc_id),
enc AS (SELECT d.doc_id, CAST(COALESCE(e.n_bpe, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN enc0 e ON e.doc_id = d.doc_id),
cums AS (
  SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard, n_bpe,
         CAST(SUM(n_bpe) OVER (PARTITION BY doc_id % {PACK_SHARDS}
              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
              CURRENT ROW) AS BIGINT) AS cum
  FROM enc),
bp2 AS (
  SELECT doc_id, shard, n_bpe, cum,
         CAST(CASE WHEN n_bpe = 0 THEN floor(cum / {PACK_BUDGET_TOKENS})
              ELSE greatest(floor((cum - 1) / {PACK_BUDGET_TOKENS}), 0)
              END AS BIGINT) AS pack_id
  FROM cums),
bp3 AS (
  SELECT *, CAST(greatest(cum - n_bpe - pack_id * {PACK_BUDGET_TOKENS},
                          0) AS BIGINT) AS off
  FROM bp2)
SELECT shard, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS pack_tokens,
       CAST(SUM(n_bpe) AS DOUBLE) / {float(PACK_BUDGET_TOKENS)}
         AS utilization,
       string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)
         AS boundaries
FROM bp3
GROUP BY shard, pack_id
ORDER BY shard, pack_id""")


QUERIES["pack_bpe_sequences"] = pack_bpe_sequences
ORACLES["pack_bpe_sequences"] = _pack_bpe_oracle()


# ---------------------------------------------------------------------------
# vocabulary growth curve (Heaps-law diagnostic)
# ---------------------------------------------------------------------------
VOCAB_CURVE_BUCKET = 50  # docs per curve point


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary size as the corpus grows in doc_id order —
    the Heaps-law curve a curator reads to judge whether more data still
    buys new vocabulary (a flattening curve means the source is
    exhausted; a superlinear one means noise/tokenizer pathology). One
    point per VOCAB_CURVE_BUCKET documents: new tokens first seen in the
    bucket, and the running vocabulary total.

    Scale shape: explode -> one map-side-combinable MIN per token (the
    first-occurrence attribution — same trick as shingle_novelty's
    window, but an agg suffices since only the minimum matters) -> a
    bucket rollup whose key space is n_docs/BUCKET -> a window over those
    few rows. Nothing corpus-sized survives the first aggregation."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    first = (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr("doc_id", "explode_outer(toks) AS tok")
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = (
        first.groupBy(F.expr(f"first_doc div {VOCAB_CURVE_BUCKET}")
                      .alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    # full bucket spine: flat segments of the curve (no new vocabulary)
    # must appear as explicit zero-new-token points, not silently vanish.
    # Built from the raw scan, NOT the fan_out frame — this branch does
    # no per-row compute, so inheriting the repartition exchange would be
    # pure wasted shuffle
    spine = (
        t(spark, sf_dir, "documents")
        .groupBy(F.expr(f"doc_id div {VOCAB_CURVE_BUCKET}")
                 .alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(per_bucket, "bucket", "left")
        .withColumn("new_tokens",
                    F.coalesce("new_tokens", F.lit(0)).cast("long"))
        .withColumn("vocab_size",
                    F.sum("new_tokens").over(w).cast("long"))
        .select("bucket", "n_docs", "new_tokens", "vocab_size")
        .orderBy("bucket")
    )


VOCAB_GROWTH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({H.tokens('text', 'duck')}) AS tok
  FROM documents),
first AS (
  SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
per_bucket AS (
  SELECT CAST(first_doc // {VOCAB_CURVE_BUCKET} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS new_tokens
  FROM first GROUP BY 1),
spine AS (
  SELECT CAST(doc_id // {VOCAB_CURVE_BUCKET} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1)
SELECT s.bucket, s.n_docs,
       CAST(COALESCE(p.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(SUM(COALESCE(p.new_tokens, 0)) OVER (ORDER BY s.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       AS vocab_size
FROM spine s LEFT JOIN per_bucket p ON p.bucket = s.bucket
ORDER BY s.bucket
"""

QUERIES["vocab_growth_curve"] = vocab_growth_curve
ORACLES["vocab_growth_curve"] = VOCAB_GROWTH_SQL


# ---------------------------------------------------------------------------
# triangle counting on the near-duplicate graph
# ---------------------------------------------------------------------------
def triangle_member_counts(pairs: DataFrame) -> DataFrame:
    """(d1, d2) undirected edges -> (doc_id, tri_count) triangle
    participation, via degree-oriented wedge enumeration. Shared by
    dup_graph_triangles (production pair table) and the brute-force
    property test (injected random graphs) — the test exercises THIS
    code, not a copy.

    The total order is the (deg, id) STRUCT compared lexicographically —
    not a packed deg*2^32 + id BIGINT, which silently corrupts the order
    once ids reach 2^32 (id bits bleeding into the degree field), the id
    range key_hash documents as expected at 100 TB."""
    # symmetrized degree per vertex
    deg = (
        pairs.select(F.col("d1").alias("v"))
        .union(pairs.select(F.col("d2").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    )
    key = F.struct(F.col("deg"), F.col("v")).alias("ord")
    degk = deg.select("v", key)
    e1 = (pairs
          .join(degk.withColumnRenamed("v", "d1")
                    .withColumnRenamed("ord", "ord1"), "d1")
          .join(degk.withColumnRenamed("v", "d2")
                    .withColumnRenamed("ord", "ord2"), "d2"))
    lower = F.col("ord1") < F.col("ord2")
    oriented = (
        e1.select(
            F.when(lower, F.col("d1")).otherwise(F.col("d2")).alias("src"),
            F.when(lower, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
            F.when(lower, F.col("ord2")).otherwise(F.col("ord1"))
             .alias("ord_dst"),
        )
    ).transform(cut_lineage)
    a = oriented.select(F.col("src"), F.col("dst").alias("v1"),
                        F.col("ord_dst").alias("o1"))
    b = oriented.select(F.col("src"), F.col("dst").alias("v2"),
                        F.col("ord_dst").alias("o2"))
    wedges = (a.join(b, "src").filter(F.col("o1") < F.col("o2"))
              .select("src", "v1", "v2"))
    closing = oriented.select(F.col("src").alias("v1"),
                              F.col("dst").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"])
    members = (
        tri.select(F.col("src").alias("doc_id"))
        .union(tri.select(F.col("v1").alias("doc_id")))
        .union(tri.select(F.col("v2").alias("doc_id")))
    )
    return (members.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("tri_count"))
            .orderBy("doc_id"))


def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation counts on the jaccard
    near-duplicate graph — the clustering-coefficient numerator that
    separates tight duplicate cliques (template families) from chains of
    pairwise-similar documents, a signal keep-canonical alone can't see.

    Scale shape — degree-oriented wedge enumeration (see
    triangle_member_counts): every undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, wedges are enumerated
    only at each vertex's out-neighborhood, and a wedge closes iff its
    (v1, v2) arc exists in the oriented edge set. Out-degrees under this
    orientation are bounded by O(sqrt(m)), so the wedge table is
    O(m^1.5) worst-case instead of sum(deg^2) — the difference between
    a hub vertex emitting deg^2 wedge rows and the same graph costing
    ~m^1.5 total (standard MapReduce triangle counting; same plan a
    GraphFrames deployment produces). Three shuffles total: degree agg,
    wedge self-join on src, closure join on (v1, v2). Triangle
    membership counts are orientation-invariant, so the oracle
    enumerates with the simpler id-ordering and the results agree
    exactly."""
    return triangle_member_counts(
        jaccard_pair_table(spark, sf_dir).select("d1", "d2"))


TRIANGLES_SQL = f"""
WITH pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
tri AS (
  SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.d1 = e1.d2
  JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
members AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT doc_id, COUNT(*) AS tri_count
FROM members GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["dup_graph_triangles"] = dup_graph_triangles
ORACLES["dup_graph_triangles"] = TRIANGLES_SQL


# ---------------------------------------------------------------------------
# deterministic weighted priority sampling (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------
WEIGHTED_SAMPLE_K = 5      # docs kept per source


def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional subsampling without replacement: keep the
    top-{k} documents per source by priority q_i = w_i / u_i, where w_i
    is the document's length weight and u_i a per-document uniform hash
    (Duffield-Lund-Thorup priority sampling). Long/high-quality docs are
    favored proportionally to weight, yet the subset is a pure function
    of the ids — reproducible across runs, engines, and cluster sizes,
    which is what a training-data mixture needs (rand()-based sampling
    changes the corpus under retries/speculative execution).

    Determinism: priority is computed entirely in BIGINT —
    (w * 2^32) div u with u = Knuth-hash(doc_id) in [1, 2^32) — so
    Spark's `div` and DuckDB's `//` agree bit-for-bit; no logs or pow
    (the classic exponential-key formulation) that would put libm
    differences in the compare path. w * 2^32 stays < 2^63 for any
    w < 2^31, far above real document lengths.

    Scale: one shuffle on source for the per-group top-k window, which
    AQE rewrites to WindowGroupLimit (partial top-k before the
    exchange); the hash and priority are scan-local expressions."""
    docs = t(spark, sf_dir, "documents")
    u = F.expr(f"({key_hash('doc_id')}) + 1")
    prio = F.expr(
        f"(CAST(n_chars AS BIGINT) * {MOD}) div (({key_hash('doc_id')}) + 1)")
    w = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.col("doc_id"))
    return (
        docs.select("source", "doc_id",
                    F.col("n_chars").cast("long").alias("weight"),
                    u.alias("u_hash"), prio.alias("priority"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WEIGHTED_SAMPLE_K)
        .select("source", "doc_id", "weight", "priority",
                F.col("rk").cast("long").alias("rk"))
        .orderBy("source", "rk")
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(n_chars AS BIGINT) AS weight,
         ({key_hash('doc_id')}) + 1 AS u_hash,
         (CAST(n_chars AS BIGINT) * {MOD}) // (({key_hash('doc_id')}) + 1)
         AS priority
  FROM documents),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY priority DESC, doc_id) AS rk
  FROM scored)
SELECT source, doc_id, weight, priority, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {WEIGHTED_SAMPLE_K}
ORDER BY source, rk
"""

QUERIES["weighted_sample_per_source"] = weighted_sample_per_source
ORACLES["weighted_sample_per_source"] = WEIGHTED_SAMPLE_SQL


# ---------------------------------------------------------------------------
# k-core decomposition of the near-duplicate graph
# ---------------------------------------------------------------------------
KCORE_K = 2           # minimum within-core degree
KCORE_ROUNDS = 8      # unrolled peel rounds; convergence is ASSERTED


def dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {k}-core of the jaccard near-duplicate graph: the maximal
    subgraph where every member keeps >= {k} near-duplicate neighbors
    AFTER low-degree hangers-on are peeled away — the dense template
    families worth inspecting as a group, separated from incidental
    pairwise matches that pagerank/triangles still score.

    Iterative peel (the standard algorithm): each round drops nodes
    whose degree among SURVIVORS is < k; the fixpoint is the core.
    Rounds are bounded at {rounds} and convergence is asserted — a peel
    cascade longer than the bound raises instead of silently returning
    a non-core (the oracle unrolls the same {rounds} generations, so the
    assertion also guarantees the engines computed the same fixpoint).
    Scale shape per round: one semi-join per side to restrict edges to
    survivors + one combinable degree count, each generation cut from
    its lineage with localCheckpoint (the CC/pagerank lesson)."""
    return kcore_members(
        jaccard_pair_table(spark, sf_dir).select("d1", "d2"))


dup_graph_kcore.__doc__ = dup_graph_kcore.__doc__.format(
    k=KCORE_K, rounds=KCORE_ROUNDS)


def kcore_members(pairs: DataFrame) -> DataFrame:
    """(d1, d2) undirected edges -> (doc_id, core_deg) members of the
    KCORE_K-core. Shared by dup_graph_kcore (production pair table) and
    the unit test (injected known graphs) — the test exercises THIS
    peel, not a copy."""
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"),
                                 F.col("d1").alias("d2")))
        .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .transform(cut_lineage)
    )
    alive = edges.select(F.col("src").alias("v")).distinct().transform(cut_lineage)
    n_alive = alive.count()
    deg = None
    for _ in range(KCORE_ROUNDS):
        live_edges = (
            edges.join(alive.withColumnRenamed("v", "src"), "src",
                       "left_semi")
            .join(alive.withColumnRenamed("v", "dst"), "dst", "left_semi")
        )
        deg = (live_edges.groupBy("src")
               .agg(F.count(F.lit(1)).alias("core_deg")))
        alive = (deg.filter(F.col("core_deg") >= KCORE_K)
                 .select(F.col("src").alias("v"))
                 .transform(cut_lineage))
        n_next = alive.count()
        if n_next == n_alive:
            break
        n_alive = n_next
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {KCORE_ROUNDS} rounds — "
            "raise KCORE_ROUNDS (and the oracle's unroll) together")
    return (deg.filter(F.col("core_deg") >= KCORE_K)
            .select(F.col("src").alias("doc_id"), "core_deg")
            .orderBy("doc_id"))


def _kcore_oracle() -> str:
    # AS MATERIALIZED throughout: each generation references the previous
    # alive set TWICE and `e` once — inlined CTEs would re-expand the
    # whole jaccard candidate chain per reference, doubling work per
    # generation (2^ROUNDS blowup; measured: the inlined form runs for
    # minutes, the materialized one in seconds)
    gens = []
    for r in range(1, KCORE_ROUNDS + 1):
        gens.append(f"""
d{r} AS MATERIALIZED (
  SELECT e.src AS v, COUNT(*) AS core_deg
  FROM e JOIN alive{r - 1} a1 ON e.src = a1.v
         JOIN alive{r - 1} a2 ON e.dst = a2.v
  GROUP BY e.src),
alive{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE core_deg >= {KCORE_K})""")
    return f"""
WITH pairs AS MATERIALIZED (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
alive0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),{",".join(gens)}
SELECT v AS doc_id, core_deg
FROM d{KCORE_ROUNDS} WHERE core_deg >= {KCORE_K}
ORDER BY doc_id
"""


QUERIES["dup_graph_kcore"] = dup_graph_kcore
ORACLES["dup_graph_kcore"] = _kcore_oracle()


# ---------------------------------------------------------------------------
# sampled df-cap recall audit (the production-scale shape)
# ---------------------------------------------------------------------------
CAP_AUDIT_SAMPLE_MOD = 4     # keep docs with key_hash % 4 == 0 (~25%)


def jaccard_cap_recall_audit_sampled(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The 100 TB form of dedup.jaccard_cap_recall_audit: the uncapped
    ground-truth self-join is df^2 per shingle with no ceiling, so at
    production scale the audit runs on a deterministic ~25% key-hash doc
    sample — the fan-out drops by sample_rate^2 (~16x) while the recall
    ESTIMATE stays unbiased for pairs (both endpoints sampled
    independently of their content). The full-corpus variant stays the
    registry's exact audit for bounded corpora; this one is the shape a
    deployment schedules nightly. Same one-row output plus the sampled
    doc count for the denominator audit trail."""
    pred = f"({key_hash('doc_id')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    in1 = f"({key_hash('d1')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    in2 = f"({key_hash('d2')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    true_pairs = (uncapped_jaccard_pairs(spark, sf_dir, doc_pred=pred)
                  .select("d1", "d2", F.lit(1).alias("in_true")))
    capped = (jaccard_pair_table(spark, sf_dir)
              .filter(F.expr(in1) & F.expr(in2))
              .select("d1", "d2", F.lit(1).alias("in_capped")))
    n_docs = (t(spark, sf_dir, "documents")
              .filter(F.expr(pred))
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs_sampled")))
    return (
        true_pairs.join(capped, ["d1", "d2"], "full_outer")
        .agg(F.count("in_true").cast("long").alias("n_true"),
             F.count("in_capped").cast("long").alias("n_capped"),
             F.coalesce(
                 F.sum(F.when(F.col("in_true").isNotNull()
                              & F.col("in_capped").isNotNull(), 1)
                       .otherwise(0)),
                 F.lit(0)).cast("long").alias("n_both"))
        .crossJoin(F.broadcast(n_docs))
        .selectExpr("n_docs_sampled", "n_true", "n_capped", "n_both",
                    "n_true - n_both AS n_missed",
                    "CASE WHEN n_true = 0 THEN CAST(NULL AS DOUBLE) "
                    "ELSE CAST(n_both AS DOUBLE) / CAST(n_true AS DOUBLE) "
                    "END AS recall")
    )


def _cap_recall_sampled_oracle() -> str:
    pred = f"({key_hash('doc_id')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    in1 = f"({key_hash('d1')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    in2 = f"({key_hash('d2')}) % {CAP_AUDIT_SAMPLE_MOD} = 0"
    return f"""
WITH {H.shingle_ctes()},
ex AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE {pred}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
cm AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
true_pairs AS (
  SELECT d1, d2
  FROM cm JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE)
        >= {JACCARD_THRESHOLD}),
capped AS (
  SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL.replace(';', '')})
  WHERE {in1} AND {in2}),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_sampled
       FROM documents WHERE {pred})
SELECT (SELECT n_docs_sampled FROM nd) AS n_docs_sampled,
       CAST(COUNT(t.d1) AS BIGINT) AS n_true,
       CAST(COUNT(c.d1) AS BIGINT) AS n_capped,
       CAST(COUNT(CASE WHEN t.d1 IS NOT NULL AND c.d1 IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_both,
       CAST(COUNT(t.d1)
            - COUNT(CASE WHEN t.d1 IS NOT NULL AND c.d1 IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n_missed,
       CASE WHEN COUNT(t.d1) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(COUNT(CASE WHEN t.d1 IS NOT NULL
                                 AND c.d1 IS NOT NULL
                            THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(t.d1) AS DOUBLE)
       END AS recall
FROM true_pairs t FULL OUTER JOIN capped c
  ON t.d1 = c.d1 AND t.d2 = c.d2
"""


QUERIES["jaccard_cap_recall_audit_sampled"] = jaccard_cap_recall_audit_sampled
ORACLES["jaccard_cap_recall_audit_sampled"] = _cap_recall_sampled_oracle()


# ---------------------------------------------------------------------------
# cross-modal duplicate clusters (text OR image match)
# ---------------------------------------------------------------------------
def _cc_multimodal_label_table(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CC labels over the UNION of the text (n-gram jaccard) and image
    (phash hamming) duplicate graphs — a doc pair is an edge if EITHER
    modality matches, which is how a production curation run treats
    near-duplication (same article with a re-encoded header image; same
    image with paraphrased caption). Memoized; both pair tables are the
    existing memoized artifacts, so the only new cost is the CC loop
    over the union."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        dedup_image_phash,
    )

    def build() -> DataFrame:
        text_pairs = jaccard_pair_table(spark, sf_dir).select("d1", "d2")
        image_pairs = dedup_image_phash(spark, sf_dir).select("d1", "d2")
        pairs = text_pairs.unionByName(image_pairs) \
            .dropDuplicates(["d1", "d2"])
        edges = pairs.union(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        labels, _, _ = connected_components(edges)
        return labels
    return session_memo(spark, ("cc_labels_multimodal", sf_dir), build)


def multimodal_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-modality duplicate clusters: (doc_id, component_id) over the
    union graph, plus per-doc flags for which modality linked it (a doc
    can be in a cluster through text edges, image edges, or both — the
    flags are what a curator reads to see WHY two docs merged).

    Scale shape: two memoized pair artifacts + one CC loop; the flag
    attachment is two semi-joins on doc_id against pair-sized frames."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        dedup_image_phash,
    )
    labels = _cc_multimodal_label_table(spark, sf_dir)
    text_ids = (jaccard_pair_table(spark, sf_dir)
                .selectExpr("d1 AS doc_id")
                .union(jaccard_pair_table(spark, sf_dir)
                       .selectExpr("d2 AS doc_id"))
                .distinct().withColumn("via_text", F.lit(True)))
    image_ids = (dedup_image_phash(spark, sf_dir)
                 .selectExpr("d1 AS doc_id")
                 .union(dedup_image_phash(spark, sf_dir)
                        .selectExpr("d2 AS doc_id"))
                 .distinct().withColumn("via_image", F.lit(True)))
    return (
        labels.select("doc_id", F.col("label").alias("component_id"))
        .join(text_ids, "doc_id", "left")
        .join(image_ids, "doc_id", "left")
        .select("doc_id", "component_id",
                F.coalesce("via_text", F.lit(False)).alias("via_text"),
                F.coalesce("via_image", F.lit(False)).alias("via_image"))
        .orderBy("doc_id")
    )


def _multimodal_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE
image_pairs AS (
  SELECT DISTINCT d1, d2 FROM ({banded_oracle("image_phash", "batch")}) ip),
text_pairs AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) jp),
pairs AS (SELECT d1, d2 FROM text_pairs
          UNION SELECT d1, d2 FROM image_pairs),
edges AS (SELECT d1, d2 FROM pairs
          UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
nodes AS (SELECT DISTINCT d1 AS doc_id FROM edges),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM nodes
  UNION
  SELECT e.d1 AS doc_id, r.label
  FROM reach r JOIN edges e ON e.d2 = r.doc_id),
cc AS (SELECT doc_id, MIN(label) AS component_id
       FROM reach GROUP BY doc_id),
t_ids AS (SELECT DISTINCT doc_id FROM
          (SELECT d1 AS doc_id FROM text_pairs
           UNION ALL SELECT d2 FROM text_pairs)),
i_ids AS (SELECT DISTINCT doc_id FROM
          (SELECT d1 AS doc_id FROM image_pairs
           UNION ALL SELECT d2 FROM image_pairs))
SELECT cc.doc_id, cc.component_id,
       t.doc_id IS NOT NULL AS via_text,
       i.doc_id IS NOT NULL AS via_image
FROM cc
LEFT JOIN t_ids t ON t.doc_id = cc.doc_id
LEFT JOIN i_ids i ON i.doc_id = cc.doc_id
ORDER BY cc.doc_id
"""


QUERIES["multimodal_dup_clusters"] = multimodal_dup_clusters
ORACLES["multimodal_dup_clusters"] = _multimodal_clusters_oracle()


def clean_corpus_manifest_multimodal(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """clean_corpus_manifest with the duplicate rule upgraded to the
    ANY-MODALITY cluster labels (text jaccard OR image phash — see
    multimodal_dup_clusters): a doc whose image near-duplicates a
    canonical doc drops as 'duplicate' even when its caption was
    paraphrased past the text threshold. Same fixed reason precedence
    (benchmark > contaminated > duplicate > quality), same canonical
    rule (cluster min doc_id survives), so diffing this manifest against
    the text-only one isolates exactly the docs image dedup adds.

    Scale shape: identical to the text manifest — three doc_id left
    joins; the union label table is the memoized artifact."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    decon = decontaminate_ngram_overlap(spark, sf_dir) \
        .select("doc_id", "contaminated")
    dups = _cc_multimodal_label_table(spark, sf_dir) \
        .select("doc_id", F.col("label").alias("component_id"))
    qual = quality_filter_verdicts(spark, sf_dir) \
        .select("doc_id", "verdict")
    m = (
        docs
        .withColumn("is_bench", F.expr(key_hash("doc_id")) < BENCH_RATE)
        .join(decon, "doc_id", "left")
        .join(dups, "doc_id", "left")
        .join(qual, "doc_id", "left")
    )
    reason = (
        F.when(F.col("is_bench"), F.lit("benchmark"))
        .when(F.coalesce("contaminated", F.lit(False)),
              F.lit("contaminated"))
        .when(F.col("component_id").isNotNull()
              & (F.col("component_id") != F.col("doc_id")),
              F.lit("duplicate"))
        .when(F.coalesce(F.col("verdict"), F.lit("too_short"))
              != "keep",
              F.coalesce(F.col("verdict"), F.lit("too_short")))
        .otherwise(F.lit("keep"))
    )
    return (
        m.select("doc_id", reason.alias("reason"))
        .withColumn("keep", F.col("reason") == "keep")
        .orderBy("doc_id")
    )


def _multimodal_manifest_oracle() -> str:
    return f"""
WITH q AS (SELECT doc_id, verdict FROM ({QUALITY_FILTER_SQL}) x),
comp AS (SELECT doc_id, component_id
         FROM ({_multimodal_clusters_oracle()}) x),
decon AS (SELECT doc_id, contaminated FROM ({ORACLES["decontaminate_ngram_overlap"]}) x),
reasons AS (
  SELECT d.doc_id,
         CASE WHEN {key_hash('d.doc_id')} < {BENCH_RATE} THEN 'benchmark'
              WHEN COALESCE(decon.contaminated, FALSE) THEN 'contaminated'
              WHEN comp.component_id IS NOT NULL
                   AND comp.component_id != d.doc_id THEN 'duplicate'
              WHEN COALESCE(q.verdict, 'too_short') != 'keep'
                   THEN COALESCE(q.verdict, 'too_short')
              ELSE 'keep' END AS reason
  FROM documents d
  LEFT JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN comp ON comp.doc_id = d.doc_id
  LEFT JOIN decon ON decon.doc_id = d.doc_id)
SELECT doc_id, reason, reason = 'keep' AS keep
FROM reasons
ORDER BY doc_id
"""


QUERIES["clean_corpus_manifest_multimodal"] = clean_corpus_manifest_multimodal
ORACLES["clean_corpus_manifest_multimodal"] = _multimodal_manifest_oracle()


# ---------------------------------------------------------------------------
# token-budget corpus selection (greedy quality-ranked)
# ---------------------------------------------------------------------------
SELECTION_BUDGET_TOKENS = 2000   # per packing shard


def budget_corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget — the "we can only afford N
    tokens this run" pass: rank documents by quality score (stopword
    ratio, the same signal the threshold sweep calibrates) and greedily
    take whole docs in rank order until the shard's budget is filled.
    Output keeps EVERY doc with its rank position and selected flag, so
    the rejected tail is auditable, not silently gone.

    Scale shape: selection is SHARDED like pack_sequences (doc_id mod
    PACK_SHARDS) — the sort is per-shard, no global order; one window
    cumsum per shard. Zero-token docs carry NULL score (explicit NULLS
    LAST in both engines — default NULL placement differs) and are
    never selected."""
    from qucosa_fcrepo_reportingdb_spark.functions.text import (
        EN_STOPWORDS,
        _array_count_in,
    )
    toks = H.tokens("text", "spark")
    n_stop = _array_count_in(toks, EN_STOPWORDS, "spark")
    scored = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
        f"CAST(size({toks}) AS BIGINT) AS n_tokens",
        f"CAST({n_stop} AS DOUBLE)"
        f" / CAST(nullif(size({toks}), 0) AS DOUBLE) AS score")
    order = [F.col("score").desc_nulls_last(), F.asc("doc_id")]
    w = Window.partitionBy("shard").orderBy(*order)
    cum = Window.partitionBy("shard").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        scored
        .withColumn("sel_rank", F.row_number().over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(cum).cast("long"))
        .withColumn(
            "selected",
            F.col("score").isNotNull()
            & (F.col("cum_tokens") <= SELECTION_BUDGET_TOKENS))
        .select("doc_id", "shard", "n_tokens", "score", "sel_rank",
                "cum_tokens", "selected")
        .orderBy("doc_id")
    )


def _budget_selection_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.functions.text import (
        EN_STOPWORDS,
        _array_count_in,
    )
    toks = H.tokens("text", "duck")
    n_stop = _array_count_in(toks, EN_STOPWORDS, "duck")
    return f"""
WITH scored AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST({n_stop} AS DOUBLE)
           / CAST(NULLIF(len({toks}), 0) AS DOUBLE) AS score
  FROM documents),
ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard
              ORDER BY score DESC NULLS LAST, doc_id) AS INT) AS sel_rank,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard
              ORDER BY score DESC NULLS LAST, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM scored)
SELECT doc_id, shard, n_tokens, score, sel_rank, cum_tokens,
       score IS NOT NULL AND cum_tokens <= {SELECTION_BUDGET_TOKENS}
         AS selected
FROM ranked
ORDER BY doc_id
"""


QUERIES["budget_corpus_selection"] = budget_corpus_selection
ORACLES["budget_corpus_selection"] = _budget_selection_oracle()


# ---------------------------------------------------------------------------
# deterministic per-epoch shuffle order
# ---------------------------------------------------------------------------
SHUFFLE_EPOCHS = 3


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-data shuffling: for each epoch, every doc's
    read position is the rank of a keyed hash (epoch folded into the
    key), so any worker can recompute the epoch-e order of any shard
    without a materialized permutation — the property distributed
    training loaders need for deterministic resume. Ranks are per
    (epoch, shard): no global sort at 100 TB, one window per shard, and
    the shard assignment is stable across epochs (only the order inside
    a shard reshuffles — shard-local files stay shard-local).

    Hash ties break on doc_id, so the order is total and identical in
    both engines. The epoch folds into the key AFTER reducing doc_id
    mod 2^32: key_hash only reduces its whole argument, so a raw
    doc_id * 1000003 would overflow BIGINT above ~9.2e12 — Spark
    (non-ANSI) wraps silently while DuckDB raises, diverging the
    engines exactly at 100 TB id ranges. The reduced form is identical
    for every doc_id < 2^32 and stays below 2^53 for all BIGINT ids."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    grid = spark.range(0, SHUFFLE_EPOCHS).select(
        F.col("id").cast("int").alias("epoch"))
    keyed = (docs.crossJoin(F.broadcast(grid))
             .selectExpr(
                 "doc_id", "epoch",
                 f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
                 f"{key_hash(f'((doc_id % {MOD}) * 1000003 + epoch)')}"
                 " AS h"))
    w = Window.partitionBy("epoch", "shard") \
        .orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        keyed.withColumn("shuffle_rank",
                         F.row_number().over(w).cast("long"))
        .select("epoch", "shard", "doc_id", "shuffle_rank")
        .orderBy("epoch", "shard", "shuffle_rank")
    )


EPOCH_SHUFFLE_SQL = f"""
WITH grid AS (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch),
keyed AS (
  SELECT d.doc_id, CAST(g.epoch AS INT) AS epoch,
         CAST(d.doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         {key_hash(f'((d.doc_id % {MOD}) * 1000003 + g.epoch)')} AS h
  FROM documents d CROSS JOIN grid g)
SELECT epoch, shard, doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
            ORDER BY h, doc_id) AS BIGINT) AS shuffle_rank
FROM keyed
ORDER BY epoch, shard, shuffle_rank
"""

QUERIES["epoch_shuffle_order"] = epoch_shuffle_order
ORACLES["epoch_shuffle_order"] = EPOCH_SHUFFLE_SQL


# ---------------------------------------------------------------------------
# temperature-scaled source mixing (T = 0.5 via sqrt)
# ---------------------------------------------------------------------------
def source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multinomial source weights — the standard
    rebalancing between 'proportional' (T=1) and 'uniform' (T->0):
    p_T(s) = share(s)^T / sum(share^T). T is fixed at 0.5 because
    sqrt is EXACTLY rounded in IEEE-754 (both engines produce the
    identical double), while a general pow(x, 0.7) may differ in the
    last ulp between JVM and libm and break the hash gate — the
    documented reason this knob is not a parameter here.

    Scale shape: one aggregation to the tiny per-source frame, then
    window arithmetic over it."""
    docs = t(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = Window.partitionBy()
    share = (F.col("n_docs").cast("double")
             / F.sum("n_docs").over(w).cast("double"))
    return (
        per_source
        .withColumn("actual_share", share)
        .withColumn("t_share", F.sqrt(F.col("actual_share")))
        .withColumn("sampling_prob",
                    F.col("t_share") / F.sum("t_share").over(w))
        .select("source", "n_docs", "actual_share", "sampling_prob")
        .orderBy("source")
    )


SOURCE_MIX_TEMPERATURE_SQL = """
WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
sh AS (SELECT source, n_docs,
              CAST(n_docs AS DOUBLE)
                / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
                AS actual_share
       FROM s)
SELECT source, n_docs, actual_share,
       sqrt(actual_share) / SUM(sqrt(actual_share)) OVER ()
         AS sampling_prob
FROM sh
ORDER BY source
"""

QUERIES["source_mix_temperature"] = source_mix_temperature
ORACLES["source_mix_temperature"] = SOURCE_MIX_TEMPERATURE_SQL


# ---------------------------------------------------------------------------
# packing-shard balance audit
# ---------------------------------------------------------------------------
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew check over the packing shards every sharded operator here
    keys on (doc_id mod PACK_SHARDS): docs and tokens per shard plus
    each shard's deviation from the mean token load. A hot shard is the
    straggler that caps every per-shard pipeline (packing, selection,
    epoch shuffle), so this is the table that justifies — or refutes —
    the mod-sharding before a 100 TB run commits to it.

    Scale shape: one map-side-combinable aggregation to PACK_SHARDS
    rows; the deviation arithmetic is window work over those rows."""
    docs = t(spark, sf_dir, "documents")
    toks = H.tokens("text", "spark")
    per_shard = (docs.selectExpr(
        f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
        f"CAST(size({toks}) AS BIGINT) AS n_tokens")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("shard_tokens")))
    w = Window.partitionBy()
    mean_tokens = (F.sum("shard_tokens").over(w).cast("double")
                   / F.count(F.lit(1)).over(w).cast("double"))
    return (
        per_shard
        .withColumn("mean_tokens", mean_tokens)
        .withColumn("load_ratio",
                    F.col("shard_tokens").cast("double")
                    / F.col("mean_tokens"))
        .select("shard", "n_docs", "shard_tokens", "load_ratio")
        .orderBy("shard")
    )


SHARD_BALANCE_SQL = f"""
WITH per AS (
  SELECT CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({H.tokens('text', 'duck')})) AS BIGINT)
           AS shard_tokens
  FROM documents
  GROUP BY 1)
SELECT shard, n_docs, shard_tokens,
       CAST(shard_tokens AS DOUBLE)
         / (CAST(CAST(SUM(shard_tokens) OVER () AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) OVER () AS DOUBLE)) AS load_ratio
FROM per
ORDER BY shard
"""

QUERIES["shard_balance_audit"] = shard_balance_audit
ORACLES["shard_balance_audit"] = SHARD_BALANCE_SQL


# ---------------------------------------------------------------------------
# repeated-n-gram repetition rule (Gopher-style)
# ---------------------------------------------------------------------------
REPEAT_NGRAM_N = 3
MAX_DUP_NGRAM_FRACTION = 0.2


def text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-family duplicate-n-gram rule the single-token
    repetition stat misses: fraction of a doc's 3-grams that are
    repeats (1 - distinct/total). A doc passing the top-token filter
    can still be a templated loop of varied words — this is the rule
    that catches it. Emits the fraction and the keep verdict per doc.

    Scale shape: whole-array expression work (token array -> n-gram
    array -> distinct count), scan-local, no explode — the n-gram
    arrays never shuffle."""
    toks = H.tokens("text", "spark")
    grams = (f"transform(sequence(1, greatest(size({toks}) - "
             f"{REPEAT_NGRAM_N - 1}, 0)), i -> concat_ws(' ', "
             f"slice({toks}, i, {REPEAT_NGRAM_N})))")
    return (
        t(spark, sf_dir, "documents").selectExpr(
            "doc_id",
            f"CAST(size({grams}) AS BIGINT) AS n_grams",
            f"CAST(size(array_distinct({grams})) AS BIGINT)"
            f" AS n_distinct")
        .selectExpr(
            "doc_id", "n_grams", "n_distinct",
            "CASE WHEN n_grams = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE CAST(n_grams - n_distinct AS DOUBLE)"
            " / CAST(n_grams AS DOUBLE) END AS dup_ngram_fraction")
        .selectExpr(
            "doc_id", "n_grams", "n_distinct", "dup_ngram_fraction",
            f"dup_ngram_fraction <= {MAX_DUP_NGRAM_FRACTION} AS keep")
        .orderBy("doc_id")
    )


REPETITION_NGRAMS_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len({H.tokens('text', 'duck')})
                        - {REPEAT_NGRAM_N - 1}, 0) + 1),
             i -> array_to_string(list_slice({H.tokens('text', 'duck')},
                                             i, i + {REPEAT_NGRAM_N - 1}),
                                  ' ')) AS grams
  FROM documents),
c AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
  FROM g)
SELECT doc_id, n_grams, n_distinct,
       CASE WHEN n_grams = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n_grams - n_distinct AS DOUBLE)
                 / CAST(n_grams AS DOUBLE) END AS dup_ngram_fraction,
       (CASE WHEN n_grams = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(n_grams - n_distinct AS DOUBLE)
                  / CAST(n_grams AS DOUBLE) END)
         <= {MAX_DUP_NGRAM_FRACTION} AS keep
FROM c
ORDER BY doc_id
"""

QUERIES["text_repetition_ngrams"] = text_repetition_ngrams
ORACLES["text_repetition_ngrams"] = REPETITION_NGRAMS_SQL


# ---------------------------------------------------------------------------
# multi-suite decontamination (per-benchmark attribution)
# ---------------------------------------------------------------------------
def _suite_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized suite-tagged shingle frame (doc_id, sh, suite) shared by
    the batch and incremental multi-suite screens: without it each of
    their suite/corpus arms re-tokenizes the corpus from parquet (the
    batch + incremental pair audited at 8 scans each before this)."""
    def build() -> DataFrame:
        docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
        return _suite_slice(shingled_docs(docs)).transform(cut_lineage)
    return session_memo(spark, ("suite_shingled", sf_dir), build)


@_lexical_entry
def decontaminate_multi_suite(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Decontamination against SEVERAL held-out benchmark suites at
    once, with per-suite attribution — production pipelines screen
    against a battery of evals, and "which benchmark does this training
    doc leak into" is the column an exclusion appeal needs. Suites are
    three disjoint deterministic hash slices of the corpus (each ~1.6%);
    a corpus doc is contaminated when it shares >=
    {CONTAMINATION_MIN_SHINGLES} shingles with ANY suite.

    Scale shape: the union of suite shingle sets is still tiny ->
    one broadcast; the corpus side explodes once and the per-suite
    counts are ONE conditional aggregation (no per-suite corpus scans,
    no pivot shuffle); the suite-tagged shingle frame is a memoized
    artifact shared with the incremental screen."""
    sh = _suite_shingled(spark, sf_dir)
    return multi_suite_screen_frame(
        sh.filter(F.col("suite") >= N_BENCH_SUITES),
        _shingle_set(sh.filter(F.col("suite") < N_BENCH_SUITES), "sh",
                     "suite")).orderBy("doc_id")


def multi_suite_screen_frame(corpus: DataFrame,
                             suites: DataFrame) -> DataFrame:
    """Shared verdict body of the multi-suite screen — corpus shingles
    (doc_id, sh) against the (suite, s) shingle rows: per-suite overlap
    counts in one conditional aggregation, for the batch and streaming
    forms."""
    cols = [f"n_overlap_suite{k}" for k in range(N_BENCH_SUITES)]
    any_pred = " OR ".join(
        f"{c} >= {CONTAMINATION_MIN_SHINGLES}" for c in cols)
    overlap = _suite_overlap_counts(corpus, suites,
                                    list(range(N_BENCH_SUITES)))
    return (
        corpus.select("doc_id")
        .join(overlap, "doc_id", "left")
        .selectExpr(
            "doc_id",
            *[f"coalesce({c}, 0) AS {c}" for c in cols])
        .selectExpr("doc_id", *cols, f"{any_pred} AS contaminated")
    )


# ---------------------------------------------------------------------------
# incremental multi-suite decontamination (delta ingest + new-suite backfill)
# ---------------------------------------------------------------------------
def _suite_overlap_counts(corpus_sh: DataFrame, suites: DataFrame,
                          suite_ids: "list[int]") -> DataFrame:
    """Per-doc conditional overlap counts against a (suite, s) shingle
    set — the single broadcast-join + one-aggregation shape shared by
    every decontamination path here (pure frame logic for the path-
    equivalence pytest)."""
    return (
        corpus_sh.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .join(F.broadcast(suites), "s", "inner")
        .groupBy("doc_id")
        .agg(*[F.sum(F.when(F.col("suite") == k, 1).otherwise(0))
               .cast("long").alias(f"n_overlap_suite{k}")
               for k in suite_ids])
    )


@_lexical_entry
def decontaminate_multi_suite_incremental(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """decontaminate_multi_suite's two growth events, closed — the same
    delta-ingest asymmetry dedup_incremental_minhash has, applied to
    benchmark screening:

    - **ingest**: an incoming corpus batch (doc_id % {INCREMENTAL_MOD}
      >= {INCREMENTAL_NEW}, the shared growth convention) is screened
      against ALL suites' broadcast shingle set. The existing corpus is
      never re-exploded for this.
    - **backfill**: a NEW benchmark suite (suite {NEW_SUITE}) was added
      after the snapshot, so the EXISTING corpus must be screened
      against that one suite's shingles only — its overlaps with the
      old suites are a persisted per-doc artifact from each doc's own
      ingest (recomputed here as the deterministic stand-in, the same
      convention as _prior_assign).

    Per-ingest cost is O(batch x suites) + O(corpus x new-suite) — the
    corpus-wide all-suite re-screen never runs. Output: one row per
    corpus doc with its screening phase, per-suite overlap counts
    (prior + backfill columns merged for existing docs), and the
    updated contamination verdict; the union of the two paths is
    row-identical to the batch operator, which the path-equivalence
    pytest pins."""
    sh = _suite_shingled(spark, sf_dir)
    suites = _shingle_set(sh.filter(F.col("suite") < N_BENCH_SUITES), "sh",
                          "suite")
    corpus = sh.filter(F.col("suite") >= N_BENCH_SUITES) \
        .select("doc_id", "sh")
    is_new = (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW
    incoming = corpus.filter(is_new)
    existing = corpus.filter(~is_new)

    old_ids = list(range(NEW_SUITE))
    ing = _suite_overlap_counts(incoming, suites,
                                list(range(N_BENCH_SUITES)))
    prior = _suite_overlap_counts(
        existing, suites.filter(F.col("suite") < NEW_SUITE), old_ids)
    back = _suite_overlap_counts(
        existing, suites.filter(F.col("suite") == NEW_SUITE), [NEW_SUITE])

    cols = [f"n_overlap_suite{k}" for k in range(N_BENCH_SUITES)]
    fill = [f"CAST(coalesce({c}, 0) AS BIGINT) AS {c}" for c in cols]
    rows_new = (incoming.select("doc_id").join(ing, "doc_id", "left")
                .selectExpr("doc_id", "'ingest' AS phase", *fill))
    rows_old = (existing.select("doc_id")
                .join(prior, "doc_id", "left")
                .join(back, "doc_id", "left")
                .selectExpr("doc_id", "'backfill' AS phase", *fill))
    any_pred = " OR ".join(
        f"{c} >= {CONTAMINATION_MIN_SHINGLES}" for c in cols)
    return (
        rows_new.unionByName(rows_old)
        .selectExpr("doc_id", "phase", *cols,
                    f"{any_pred} AS contaminated")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# span-level decontamination (strip matched spans instead of dropping docs)
# ---------------------------------------------------------------------------
def _strip_span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, n_tokens, span, gr, suite) — the shared
    tokenize->hash->positional-gram subtree of both strip-spans
    operators. Memoized per (session, dataset) and lineage-cut so each
    consumer (suite-set build, corpus position explode, the final
    per-doc join) reads blocks instead of re-running the gram expansion
    over the corpus — the cut-lineage remedy that took
    leakage_safe_split_incremental from 26 shuffles to 1, applied to
    the plan that was the registry's widest (28)."""
    def build() -> DataFrame:
        docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
        return strip_span_grams_frame(docs).transform(cut_lineage)
    return session_memo(spark, ("strip_span_grams", sf_dir), build)


def strip_span_grams_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, span, gr, suite) from (doc_id, text): the
    positional 3-gram hashes and suite slice of each doc, for the batch
    artifact and the stream's micro-batches."""
    toks = docs.selectExpr(
        "doc_id", f"{H.tokens('text', 'spark')} AS toks")
    th = toks.selectExpr(
        "doc_id", "size(toks) AS n_tokens",
        f"{H.token_hashes('toks', 'spark')} AS th")
    return _suite_slice(th.selectExpr(
        "doc_id", "n_tokens",
        "CASE WHEN n_tokens >= 3 THEN 3 ELSE 1 END AS span",
        f"{H.ordered_shingle_hashes('th', 'spark')} AS gr"))


@_lexical_entry
def decontaminate_strip_spans(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The surgical form of decontamination: instead of DROPPING a
    contaminated document (losing its clean content), locate the TOKEN
    SPANS its benchmark-overlapping 3-grams cover and report how much
    of the doc survives a span strip — the per-doc ledger a pipeline
    uses to rewrite texts with eval-leaked passages excised. A matched
    3-gram at token position p covers tokens p..p+2 (short <3-token
    docs fall back to 1-token spans, mirroring the shingle fallback);
    overlapping matches merge by counting DISTINCT covered positions.

    Output per corpus doc: token count, matched-gram count, covered
    token count, the surviving-token ratio, and whether a drop-based
    policy would have discarded it (>= {CONTAMINATION_MIN_SHINGLES}
    distinct overlapping grams) — the delta between clean_ratio and
    that flag is the content a strip policy SAVES.

    Scale shape: suite grams broadcast (tiny by construction); the
    corpus side explodes its positional grams ONCE from the memoized
    gram table; covered positions explode only from MATCHES (3 rows
    each), and both per-doc numbers (distinct matched grams, distinct
    covered positions) come out of ONE multi-distinct aggregate over
    the exploded match frame instead of two separately-shuffled
    consumers. All integer until the final ratio."""
    grams = _strip_span_grams(spark, sf_dir)
    return strip_spans_frame(
        grams.filter(F.col("suite") >= N_BENCH_SUITES),
        _shingle_set(grams.filter(F.col("suite") < N_BENCH_SUITES), "gr"))\
        .orderBy("doc_id")


def _span_cover(corpus: DataFrame, gram_set: DataFrame,
                *keep: str) -> DataFrame:
    """The span strip's cover stage: corpus grams exploded with their
    positions ONCE, matched against the broadcast gram set (s, *keep),
    and each match expanded to the token positions it covers —
    (doc_id, s, *keep, tp)."""
    pos = corpus.select(
        "doc_id", "span",
        F.posexplode_outer("gr").alias("p", "s")
    ).filter(F.col("s").isNotNull())
    return pos.join(F.broadcast(gram_set), "s", "inner").select(
        "doc_id", "s", *keep,
        F.explode(F.sequence(
            F.col("p"), F.col("p") + F.col("span") - 1)).alias("tp"))


def strip_spans_frame(corpus: DataFrame, suite_set: DataFrame) -> DataFrame:
    """Shared ledger body of the span strip — corpus grams (doc_id,
    n_tokens, span, gr) against the suite gram set (s), for the batch
    and streaming forms."""
    agg = (
        _span_cover(corpus, suite_set).groupBy("doc_id")
        .agg(F.countDistinct("s").cast("long").alias("n_matched_grams"),
             F.countDistinct("tp").cast("long").alias("n_covered"))
    )
    return (
        corpus.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .selectExpr(
            "doc_id", "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(coalesce(n_matched_grams, 0) AS BIGINT)"
            " AS n_matched_grams",
            "CAST(coalesce(n_covered, 0) AS BIGINT) AS n_covered_tokens",
            "CAST(n_tokens - coalesce(n_covered, 0) AS DOUBLE)"
            " / CAST(nullif(n_tokens, 0) AS DOUBLE) AS clean_ratio",
            f"coalesce(n_matched_grams, 0)"
            f" >= {CONTAMINATION_MIN_SHINGLES} AS would_drop")
    )


@_lexical_entry
def decontaminate_strip_spans_incremental(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """The span-ledger's two growth events, mirroring
    decontaminate_multi_suite_incremental:

    - **ingest**: an incoming corpus batch (doc_id % {INCREMENTAL_MOD}
      >= {INCREMENTAL_NEW}) gets its full span ledger against the
      merged broadcast suite-gram set — everything it covers is newly
      recorded, so n_new_covered_tokens == n_covered_tokens.
    - **backfill**: a NEW benchmark suite (suite {NEW_SUITE}) was added
      after the snapshot; existing docs are screened against ONLY the
      grams that suite ADDS (the new suite's set anti-joined against
      the old suites' — grams the old screens already matched carry no
      new information). Their prior ledger is a persisted per-doc
      artifact from ingest time, recomputed here as the deterministic
      stand-in (the _prior_assign convention); n_new_covered_tokens is
      the positions the new suite contaminates BEYOND the old ledger —
      the delta a strip-rewrite job actually has to re-excise.

    Totals (n_matched_grams, n_covered_tokens, clean_ratio, would_drop)
    are row-identical to the batch operator: distinct-position coverage
    decomposes exactly into old-covered + newly-covered (the anti-join
    removes double counting), which the path-equivalence pytest pins.

    Scale shape: per-ingest cost is O(batch grams); per-backfill cost
    is O(corpus grams x new-only suite set) with the tiny gram sets
    broadcast — the full corpus x all-suites re-screen never runs.

    Plan shape (28 shuffles collapsed to a handful): the
    decomposed per-branch numbers provably recombine — old and
    new-only gram sets are DISJOINT, so g_old + g_new = g_all,
    c_old + c_new = c_all, and n_new_covered = c_all - c_old (exactly
    what the oracle computes). The plan therefore needs ONE broadcast
    gram dimension carrying an is_old flag, ONE position explode over
    the memoized gram table, and ONE multi-distinct aggregate —
    instead of two corpus branches x two suite screens x separate
    gram/coverage consumers, each with its own shuffle tree."""
    grams = _strip_span_grams(spark, sf_dir)
    # (s, is_old): every suite gram, flagged whether any OLD suite
    # (< NEW_SUITE) contains it; is_old = 0 <=> new-only (NEW_SUITE is
    # the last suite, so "not in any old suite" = "added by the new
    # benchmark"). Broadcast — tiny by construction.
    dim = (
        grams.filter(F.col("suite") < N_BENCH_SUITES)
        .select("suite", F.explode_outer("gr").alias("s"))
        .filter(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.max(F.when(F.col("suite") < NEW_SUITE, 1).otherwise(0))
             .alias("is_old"))
    )
    corpus = grams.filter(F.col("suite") >= N_BENCH_SUITES)
    agg = (
        _span_cover(corpus, dim, "is_old").groupBy("doc_id")
        .agg(F.countDistinct("s").cast("long").alias("g_all"),
             F.countDistinct("tp").cast("long").alias("c_all"),
             F.countDistinct(F.when(F.col("is_old") == 1, F.col("tp")))
             .cast("long").alias("c_old"))
    )
    return (
        corpus.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .selectExpr(
            "doc_id", _phase_sql(_IS_NEW_SQL),
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(coalesce(g_all, 0) AS BIGINT) AS n_matched_grams",
            "CAST(coalesce(c_all, 0) AS BIGINT) AS n_covered_tokens",
            f"CAST(CASE WHEN {_IS_NEW_SQL} THEN coalesce(c_all, 0)"
            " ELSE coalesce(c_all, 0) - coalesce(c_old, 0) END"
            " AS BIGINT) AS n_new_covered_tokens",
            "CAST(n_tokens - coalesce(c_all, 0) AS DOUBLE)"
            " / CAST(nullif(n_tokens, 0) AS DOUBLE) AS clean_ratio",
            f"coalesce(g_all, 0) >= {CONTAMINATION_MIN_SHINGLES}"
            f" AS would_drop")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# shard repack plan (the maintenance follow-up to shard_balance_audit)
# ---------------------------------------------------------------------------
REPACK_TARGET_TOKENS = 2000


def shard_repack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plan a 100 TB maintenance job executes after
    shard_balance_audit flags drift: lay the PACK_SHARDS token stream
    out serially (shard order) and cut it every REPACK_TARGET_TOKENS —
    output shard g owns token span [g*T, (g+1)*T). Each input shard
    reports the output groups it lands in (out_start..out_end from its
    cumulative token offset), n_pieces, and the action: 'split' when it
    spans multiple groups, 'merge' when it shares its single group with
    a neighbor (the serial layout means only the PREVIOUS shard's tail
    or the NEXT shard's head can co-occupy it — a lag/lead check, no
    interval join), else 'keep'.

    Scale shape: one map-side-combinable aggregation to PACK_SHARDS
    rows, then window arithmetic over those rows — the plan is
    O(shards) however big the corpus; the executing job moves only the
    shards whose action != 'keep'. The empty-shard guard
    (greatest(tokens, 1)) keeps out_end >= out_start so a zero-token
    shard degenerates to a 1-piece member of its neighbor's group, not
    a negative-width interval."""
    docs = t(spark, sf_dir, "documents")
    toks = H.tokens("text", "spark")
    per_shard = (docs.selectExpr(
        f"CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard",
        f"CAST(size({toks}) AS BIGINT) AS n_tokens")
        .groupBy("shard")
        .agg(F.sum("n_tokens").cast("long").alias("shard_tokens")))
    w_cum = Window.orderBy("shard") \
        .rowsBetween(Window.unboundedPreceding, -1)
    w_seq = Window.orderBy("shard")
    T = REPACK_TARGET_TOKENS
    planned = (
        per_shard
        .withColumn("cum_before",
                    F.coalesce(F.sum("shard_tokens").over(w_cum),
                               F.lit(0)).cast("long"))
        .withColumn("out_start",
                    F.expr(f"cum_before DIV {T}").cast("long"))
        .withColumn(
            "out_end",
            F.expr(f"(cum_before + greatest(shard_tokens, 1) - 1) "
                   f"DIV {T}").cast("long"))
        .withColumn("n_pieces",
                    (F.col("out_end") - F.col("out_start") + 1)
                    .cast("long"))
        .withColumn("prev_end", F.lag("out_end").over(w_seq))
        .withColumn("next_start", F.lead("out_start").over(w_seq))
    )
    return (
        planned.selectExpr(
            "shard", "shard_tokens", "cum_before", "out_start", "out_end",
            "n_pieces",
            "CASE WHEN n_pieces > 1 THEN 'split' "
            "     WHEN out_start = prev_end OR out_start = next_start "
            "     THEN 'merge' ELSE 'keep' END AS action")
        .orderBy("shard")
    )


SHARD_REPACK_SQL = f"""
WITH per AS (
  SELECT CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         CAST(SUM(len({H.tokens('text', 'duck')})) AS BIGINT)
           AS shard_tokens
  FROM documents
  GROUP BY 1),
planned AS (
  SELECT shard, shard_tokens,
         CAST(COALESCE(SUM(shard_tokens) OVER (
              ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM per),
spans AS (
  SELECT shard, shard_tokens, cum_before,
         cum_before // {REPACK_TARGET_TOKENS} AS out_start,
         (cum_before + greatest(shard_tokens, 1) - 1)
           // {REPACK_TARGET_TOKENS} AS out_end
  FROM planned),
ctx AS (
  SELECT shard, shard_tokens, cum_before,
         CAST(out_start AS BIGINT) AS out_start,
         CAST(out_end AS BIGINT) AS out_end,
         CAST(out_end - out_start + 1 AS BIGINT) AS n_pieces,
         LAG(out_end) OVER (ORDER BY shard) AS prev_end,
         LEAD(out_start) OVER (ORDER BY shard) AS next_start
  FROM spans)
SELECT shard, shard_tokens, cum_before, out_start, out_end, n_pieces,
       CASE WHEN n_pieces > 1 THEN 'split'
            WHEN out_start = prev_end OR out_start = next_start
            THEN 'merge' ELSE 'keep' END AS action
FROM ctx
ORDER BY shard
"""

QUERIES["shard_repack_plan"] = shard_repack_plan
ORACLES["shard_repack_plan"] = SHARD_REPACK_SQL


# ---------------------------------------------------------------------------
# semantic (embedding-side) decontamination
# ---------------------------------------------------------------------------
# Cosine at-or-above which a corpus embedding counts as a semantic match
# of a suite embedding. Deliberately BELOW the dedup family's
# COSINE_THRESHOLD (0.35): decontamination screens for *paraphrased*
# eval material — same meaning, different surface — which sits closer
# in embedding space than random text but further than a near-copy.
SEMANTIC_COSINE_THRESHOLD = 0.30
# Sentinel for "no suite embedding is a candidate of this vector":
# outside the cosine range [-1, 1], so it can never collide with a real
# score.
_NO_CANDIDATE = -2.0
# Probe budget for the recall-targeted screen: suite vectors are multi-
# assigned to their SEMANTIC_PROBE_K most-plausible cells. Chosen one
# step above the measured recall wall (semantic_probe_recall_sweep:
# k=7 is the smallest k meeting the target at both test SFs — 0.869
# at sf0.01, 0.826 at sf0.1 — so k=8 carries margin: 0.905 / 0.883),
# the same one-step-before-the-wall convention as the band blocking
# actuator. k is an ABSOLUTE probe count, not a cell fraction: this
# 10-cell test corpus pays 8/10 of the exact candidate volume, but a
# 100 TB deployment's quantizer has ~sqrt(N) cells, where 8 probes are
# a vanishing fraction — semantic_screen_policy prices which regime a
# corpus is in and dispatches accordingly.
SEMANTIC_PROBE_K = 8
# Audited-recall floor a deployable decontamination screen must meet:
# a screen that misses more is not a screen.
SEMANTIC_RECALL_TARGET = 0.8
# When the candidate volume AT the recall target exceeds this fraction
# of the exact pair space, blocking is bookkeeping without savings —
# the policy dispatches the exact screen instead.
SEMANTIC_EXACT_CUTOVER = 0.5
# Cosine numerator of a corpus vector (v) and a suite vector (sv).
_SV_DOT = H.dot("v", "sv", "spark")


def _is_new(col: str) -> F.Column:
    """The family's ingest / new-release convention on an id column:
    ``col % INCREMENTAL_MOD >= INCREMENTAL_NEW``."""
    return (F.col(col) % INCREMENTAL_MOD) >= INCREMENTAL_NEW


def _suite_flagged_embeddings(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """(vec_id, label, v, nrm, is_suite): the normed embedding table
    with the SAME deterministic ~5% benchmark membership the lexical
    screens use (key_hash < BENCH_RATE, keyed on vec_id = the entity
    id) — so a document's text representation and its embedding
    representation agree on whether it is held-out eval material."""
    return _bench_split(_normed_embeddings(spark, sf_dir), "vec_id")


def semantic_verdicts(corpus: DataFrame, suite: DataFrame,
                      on: "F.Column | list | None",
                      distinct: bool = False,
                      ingest_pred: "F.Column | None" = None) -> DataFrame:
    """The one verdict body of every semantic screen schedule and form:
    corpus vectors (vec_id, v, nrm, ...) LEFT-joined to the broadcast
    suite side (sv, snrm, ...) on the schedule's candidate condition,
    the exact cosine of every candidate, one roll-up per corpus vector
    — n_hits (suite vectors at cosine >= SEMANTIC_COSINE_THRESHOLD),
    max_cosine (the score flagged vectors rank by; _NO_CANDIDATE when no
    suite vector is a candidate), contaminated = n_hits >= 1.

    The LEFT join keeps a candidate-less corpus vector as one
    null-cosine row, so the roll-up needs no second join back to the
    corpus. ``on`` = None makes every suite vector a candidate (the
    exact schedule); LEFT rather than cross, an EMPTY suite keeps every
    corpus row (0 hits, _NO_CANDIDATE), as the oracle's LEFT JOIN does.
    A keyed join guards the cosine against the null suite row; the
    unkeyed one leaves it to null arithmetic (same value).

    ``distinct``: a schedule whose join can meet one suite vector more
    than once (LSH: a pair matching several bands scores identically
    each time) counts DISTINCT s_vec, so its suite side carries s_vec;
    the others count rows.

    ``ingest_pred`` switches on the SUITE-REFRESH output (the
    _sig56_screen_frame convention): a benchmark release adds suite
    members after the corpus snapshot, and hits split by whether the
    matched suite vector is a NEW-RELEASE member — s_vec's release
    convention for a distinct schedule, the suite side's s_is_new
    column otherwise. Membership is disjoint, so n_hits decomposes
    exactly as persisted-old + n_hits_new_suite and every row equals
    the batch screen's row plus (phase, n_hits_new_suite); each row
    gains its growth-event phase (ingest when ``ingest_pred``, else
    backfill). In a deployment the backfill rows only re-screen the
    standing corpus against the new members, with prior-suite counts
    the persisted per-entity artifact — recomputed here as the
    deterministic stand-in, so both phases share one plan."""
    cosine = F.expr(_SV_DOT) / (F.col("nrm") * F.col("snrm"))
    if on is None:
        on = F.lit(True)
    else:
        cosine = F.when(F.col("snrm").isNotNull(), cosine)
    keep = (["s_vec"] if distinct
            else ["s_is_new"] if ingest_pred is not None else [])
    scored = (corpus.join(F.broadcast(suite), on, "left")
              .select("vec_id", *keep, cosine.alias("cosine")))
    hit = F.col("cosine") >= SEMANTIC_COSINE_THRESHOLD
    if distinct:
        def count(pred):
            return F.countDistinct(F.when(pred, F.col("s_vec")))
        s_new = _is_new("s_vec")
    else:
        def count(pred):
            return F.sum(F.when(pred, 1).otherwise(0))
        s_new = F.col("s_is_new")
    counts = [count(hit).cast("long").alias("n_hits")]
    cols: list = ["vec_id", "n_hits"]
    if ingest_pred is not None:
        counts.append(count(hit & s_new).cast("long")
                      .alias("n_hits_new_suite"))
        cols = ["vec_id",
                F.when(ingest_pred, F.lit("ingest"))
                .otherwise(F.lit("backfill")).alias("phase"),
                "n_hits", "n_hits_new_suite"]
    max_cos = (F.coalesce(F.max("cosine"), F.lit(_NO_CANDIDATE))
               .alias("max_cosine"))
    # aggregate order as each schedule's plan has it
    aggs = [*counts, max_cos] if distinct else [max_cos, *counts]
    return (
        scored.groupBy("vec_id")
        .agg(*aggs)
        .select(*cols, "max_cosine",
                (F.col("n_hits") >= 1).alias("contaminated"))
        .orderBy("vec_id")
    )


def semantic_screen_frame(n: DataFrame,
                          incoming_only: bool = False,
                          suite: "DataFrame | None" = None) -> DataFrame:
    """The cell-keyed screens over an is_suite-flagged frame
    (vec_id, label, v, nrm, is_suite) — the seam the streaming twins
    and the paraphrase-exclusion tests drive: by default the suite's
    own cell (the cell schedule); ``suite`` overrides the broadcast
    side with pre-expanded (s_label, sv, snrm) rows (the suite-top-k
    schedule: multi-assignment changes WHERE a suite vector is visible,
    not how it scores), and fans the corpus out like that schedule.
    ``incoming_only`` screens the incoming batch only."""
    corpus = n.filter(~F.col("is_suite"))
    if suite is None:
        suite = _cell_suite(n.filter("is_suite"))
    else:
        corpus = fan_out(corpus)
    if incoming_only:
        corpus = corpus.filter(_is_new("vec_id"))
    return semantic_verdicts(corpus, suite,
                             F.col("label") == F.col("s_label"))


def _cell_suite(suite: DataFrame) -> DataFrame:
    """(s_label, sv, snrm): suite vectors under their own cell."""
    return suite.select(F.col("label").alias("s_label"),
                        F.col("v").alias("sv"),
                        F.col("nrm").alias("snrm"))


def _cell_probe_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, probe_label): each coarse cell plus its single most
    confusable OTHER cell by full-corpus centroid cosine (deterministic
    tie-break: higher cosine, then lower cell id) — the multiprobe
    schedule ivf_cell_similarity_matrix says to spend the extra probe
    on. n_cells x n_cells centroid math only; corpus-size-independent."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    cents = _full_centroid_arrays(spark, sf_dir)
    a = cents.selectExpr("label AS cell_a", "c AS ca", "cnrm AS na")
    b = cents.selectExpr("label AS cell_b", "c AS cb", "cnrm AS nb")
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("cell_a") != F.col("cell_b"))
        .selectExpr(
            "cell_a", "cell_b",
            f"{H.dot('ca', 'cb', 'spark')} / (na * nb) AS centroid_cosine"))
    w = Window.partitionBy("cell_a").orderBy(
        F.desc("centroid_cosine"), F.asc("cell_b"))
    nearest = (sims.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1)
               .selectExpr("cell_a AS label", "cell_b AS probe_label"))
    own = cents.selectExpr("label", "label AS probe_label")
    return own.unionByName(nearest)


def _centroid_core_ctes() -> str:
    """DuckDB CTE block ``split/sums/cents/cn``: the full-corpus cell
    centroids with norms, bit-identical to the Spark side's
    _full_centroid_arrays (the same split-integer exact mean as
    similarity.IVF_CELL_SIMILARITY_SQL) — shared by every oracle that
    ranks cells by centroid cosine."""
    return f"""split AS (
  SELECT label, CAST(u.i - 1 AS INT) AS dim,
         CAST(CAST(floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0) AS BIGINT)
              AS DECIMAL(38,0)) AS hi,
         CAST(CAST(floor((CAST(u.x AS DOUBLE) * {2 ** 22}.0
                          - floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0))
                         * {2 ** 58}.0) AS BIGINT) AS DECIMAL(38,0)) AS lo
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) u),
sums AS (
  SELECT label, dim,
         (CAST(CAST(SUM(hi) AS VARCHAR) AS DOUBLE) * {2 ** 58}.0
          + CAST(CAST(SUM(lo) AS VARCHAR) AS DOUBLE))
           / {2 ** 80}.0 / CAST(COUNT(*) AS DOUBLE) AS cv
  FROM split GROUP BY label, dim),
cents AS (
  SELECT label, list(cv ORDER BY dim) AS c FROM sums GROUP BY label),
cn AS (
  SELECT label, c,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(c, x -> x * x)), (acc, x) -> acc + x)) AS nrm
  FROM cents)"""


def _probe_map_ctes() -> str:
    """DuckDB CTE block ``sims/nearest/probe_map``: directed cell
    confusability -> the (label, probe_label) own+nearest map, the
    oracle twin of _cell_probe_map; requires the _centroid_core_ctes
    block."""
    return f"""sims AS (
  SELECT a.label AS cell_a, b.label AS cell_b,
         {H.dot('a.c', 'b.c', 'duck')} / (a.nrm * b.nrm) AS centroid_cosine
  FROM cn a JOIN cn b ON a.label != b.label),
nearest AS (
  SELECT cell_a AS label, cell_b AS probe_label FROM (
    SELECT cell_a, cell_b,
           ROW_NUMBER() OVER (PARTITION BY cell_a
                              ORDER BY centroid_cosine DESC, cell_b)
             AS rk
    FROM sims) t WHERE rk = 1),
probe_map AS (
  SELECT label, label AS probe_label FROM cn
  UNION ALL SELECT label, probe_label FROM nearest)"""


def _suite_cell_ranks(suite: DataFrame, cents: DataFrame) -> DataFrame:
    """(s_vec, sv, snrm, s_label, rk): every suite vector against every
    coarse cell, ranked by centroid cosine (desc, cell id asc tie-break)
    — rk = 1 is the cell the quantizer would assign the suite vector
    to, rk <= k is its k-probe schedule. Suite x n_cells rows: both
    sides are small (an eval benchmark x the quantizer), so this is
    broadcast-side math — the corpus never sees it until the final
    equi-join on its own single cell."""
    cdot = H.dot("sv", "c", "spark")
    scored = (
        suite.select(F.col("vec_id").alias("s_vec"),
                     F.col("v").alias("sv"),
                     F.col("nrm").alias("snrm"))
        .crossJoin(F.broadcast(cents.selectExpr(
            "label AS s_label", "c", "cnrm")))
        .withColumn("centroid_cosine",
                    F.expr(cdot) / (F.col("snrm") * F.col("cnrm")))
    )
    w = Window.partitionBy("s_vec").orderBy(
        F.desc("centroid_cosine"), F.asc("s_label"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .select("s_vec", "sv", "snrm", "s_label", "rk"))


def _suite_probe_expansion(suite: DataFrame, cents: DataFrame,
                           k: "int | None",
                           keep_id: bool = False) -> DataFrame:
    """The recall-targeted broadcast side: suite vectors multi-assigned
    to their top-k cells (k=None -> every cell, i.e. the exact screen).
    This moves the multiprobe fan-out OFF the corpus and ONTO the
    broadcast side — the corpus keeps its single-cell equi-join with
    zero extra per-row work (vs the multiprobe schedule's corpus-side
    2x fan-out), which is the side you can afford to replicate at
    100 TB. ``keep_id`` retains the suite vector id (s_vec) for the
    suite-refresh form and the ATTRIBUTION consumers
    (suite_leakage_report, suite_self_dedup_report) — one definition of
    the probe schedule for screens and reports alike, so a schedule
    change can't leave the reports scoring under the old one."""
    ranks = _suite_cell_ranks(suite, cents)
    if k is not None:
        ranks = ranks.filter(F.col("rk") <= k)
    cols = (["s_vec"] if keep_id else []) + ["s_label", "sv", "snrm"]
    return ranks.select(*cols)


def _suite_rank_cte() -> str:
    """DuckDB CTE ``srank`` (s_vec, s_label, rk): every suite vector's
    cells ranked by centroid cosine, the oracle twin of
    _suite_cell_ranks; requires the _centroid_core_ctes block and an
    ``n`` CTE in scope."""
    cdot = H.dot("s.v", "cc.c", "duck")
    return f"""srank AS (
  SELECT s.vec_id AS s_vec, cc.label AS s_label,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id
                            ORDER BY {cdot} / (s.nrm * cc.nrm) DESC,
                                     cc.label) AS rk
  FROM n s CROSS JOIN cn cc WHERE s.is_suite)"""


# ---------------------------------------------------------------------------
# angle-keyed (hyperplane-LSH banded) signatures
# ---------------------------------------------------------------------------
# The cell schedules (single-probe / suite-top-k) key on the TRAINED
# quantizer, whose cells can carry no signal about the cosine threshold
# (exactly this testdata's regime — semantic_probe_recall_sweep shows a
# near-linear frontier, which leaves only the O(corpus x suite) exact
# screen). Random-hyperplane signatures key on the thresholded quantity
# ITSELF: the per-bit match probability of a pair is 1 - angle/pi, a
# pure function of its cosine, so the banded S-curve recall is
# structural — data-independent — and the schedule stays sub-exact even
# where the quantizer is blind.
#
# Construction: a POOL of {SEMANTIC_LSH_POOL} signature bits per vector
# (sign of an exact-integer hyperplane dot), from which
# {SEMANTIC_LSH_BANDS} bands of {SEMANTIC_LSH_BAND_BITS} sampled bits
# each form equi-joinable (band_id, band_val) keys — the MinHash b x r
# banding transplanted to the angle metric, with the pool shared across
# bands so signature cost stays POOL dots per vector instead of
# bands x rows (the bit-pool reuse every practical MinHash
# implementation makes; band overlap correlates bands mildly and the
# measured recall below includes that effect).
#
# Exactness across engines: the similarity.py LSH code's linear-
# congruential weights are DEGENERATE for multi-plane use — w(j, d)
# affine in j makes every "hyperplane" a point on a two-parameter
# family (fine for its single 8-bit code, fatal for 100 bands), so the
# weights here run a murmur-style integer finalizer (xor-shift between
# overflow-safe split multiplies — nonlinear in (j, d) jointly, the
# property the affine forms lack). Vectors quantize to
# floor(v / |v| * 2^20) BIGINTs, so every hyperplane dot is EXACT
# 64-bit integer arithmetic (max |sum| ~ dim x 2^20 x 2^31 << 2^63):
# the bit, band value, and candidate set are bit-identical in Spark
# and DuckDB with no IEEE summation-order caveat at the sign boundary.
#
# Parameters: chosen on the measured driver-corpus frontier (see
# test_lsh_screen_recall_* and SCALING.md): pool 512 / 8-bit bands /
# 100 bands gives audited entity recall 0.869 (sf0.01) / 0.886 (sf0.1)
# >= SEMANTIC_RECALL_TARGET at candidate volume ~0.34 of the exact
# pair space — on the WORST-CASE near-isotropic corpus whose true
# pairs sit barely above the 0.30 threshold. A clustered real corpus
# both raises recall and drops candidate volume (the S-curve's flanks
# move apart as pair cosines separate from background).
SEMANTIC_LSH_POOL = 512
SEMANTIC_LSH_BAND_BITS = 8
SEMANTIC_LSH_BANDS = 100
SEMANTIC_LSH_QSCALE = 1 << 20
_MIX_C2 = 2246822519
_MIX_C3 = 3266489917


def _mix32(k: int) -> int:
    """Murmur-style 32-bit finalizer (driver-side twin of the oracle's
    stepwise weight CTE chain — multiply constants MULT/_MIX_C2/_MIX_C3,
    xor-shifts 15/13/16; integer ops, so the twin is exact)."""
    h = (k * MULT) % MOD
    h ^= h >> 15
    h = (h * _MIX_C2) % MOD
    h ^= h >> 13
    h = (h * _MIX_C3) % MOD
    h ^= h >> 16
    return h


def _lsh_weight(j: int, d: int) -> int:
    """Signed hyperplane weight for pool bit j, vector dim d (1-based),
    centered on zero: mix32(j * 100003 + d) - 2^31."""
    return _mix32(j * 100003 + d) - MOD // 2


def _lsh_band_indices() -> "list[list[int]]":
    """Per-band sampled pool-bit indices (deterministic, distinct
    within a band, shared constants of the operator in both engines)."""
    bands: list[list[int]] = []
    for b in range(SEMANTIC_LSH_BANDS):
        idx: list[int] = []
        r = 0
        while len(idx) < SEMANTIC_LSH_BAND_BITS:
            i = _mix32(b * 131071 + r * 524287 + 99991) % SEMANTIC_LSH_POOL
            r += 1
            if i not in idx:
                idx.append(i)
        bands.append(idx)
    return bands


def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding dimensionality — a 1-row bounded collect, memoized per
    (session, dataset) like every other bounded artifact."""
    def build() -> int:
        return int(_normed_embeddings(spark, sf_dir)
                   .select(F.size("v").alias("d")).limit(1)
                   .collect()[0]["d"])
    return session_memo(spark, ("lsh_dim", sf_dir), build)


def _lsh_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once signature table (vec_id, v, nrm, is_suite,
    bits): the POOL exact-integer hyperplane dots per vector, computed
    in ONE scan-local projection (the weight matrix rides as one array
    literal; no join, no shuffle) and memoized per (session, dataset)
    — the _coded_corpus convention, and the deployment shape (a
    production run persists the signature column next to the vectors;
    the suite's band table is then a fixed per-release artifact).

    The materialization is also a CORRECTNESS-OF-PLAN necessity, not
    just amortization: downstream band packing references ``bits``
    once per band slot, and Catalyst's projection collapse would
    substitute the full POOL-dot expression into every one of those
    references — a bands x pool x dim blow-up measured in MINUTES at
    sf0.1. The lineage cut pins the signature as an attribute, so the
    800 references are 800 array lookups."""
    def build() -> DataFrame:
        # fan out before the POOL-dot map stage: a 1-split scan would
        # serialize the signature computation on one core
        n = fan_out(_suite_flagged_embeddings(spark, sf_dir), "vec_id")
        return _lsh_sign_frame(spark, n, _embedding_dim(spark, sf_dir))
    return session_memo(spark, ("lsh_signed", sf_dir), build)


def _lsh_sign_frame(spark: SparkSession, frame: DataFrame,
                    dim: int) -> DataFrame:
    """Sign an (vec_id, v, nrm, is_suite, ...) frame: append the POOL
    hyperplane ``bits`` column, materialized (lineage cut) — the seam
    the batch memo and the streaming twin share, so the signature
    definition cannot drift between forms.

    Plan notes (each a measured cliff, not a guess):
    - ONE flat weight array (pool x dim, row-major) and pure
      index-based aggregates — no zip_with/transform intermediates, so
      the hot loop allocates nothing per (row, j) (the array-building
      form spent 33 s at sf0.1 on boxed-array churn; this runs ~3 s).
    - the weight matrix attaches as a broadcast 1-row frame, NOT
      F.lit: py4j converts a 32k-element literal element-by-element
      (~20 s of pure driver time); createDataFrame ships it in one
      serialized batch.
    - the quantized vector materializes in a SEPARATE lineage-cut
      step: projection collapse would otherwise substitute the vq
      transform into the bits lambda and re-quantize once per pool
      bit.
    - the output is lineage-cut so downstream band packing references
      ``bits`` as an attribute; collapsed, the POOL-dot expression
      would re-evaluate once per band slot (a bands x pool x dim
      blow-up measured in minutes)."""
    w = [_lsh_weight(j, d) for j in range(SEMANTIC_LSH_POOL)
         for d in range(1, dim + 1)]
    vq = (f"transform(v, x -> CAST(floor(x / nrm * "
          f"{SEMANTIC_LSH_QSCALE}) AS BIGINT))")
    bits = (
        f"transform(sequence(0, {SEMANTIC_LSH_POOL - 1}), j -> "
        f"CASE WHEN aggregate(sequence(1, {dim}), "
        f"CAST(0 AS BIGINT), (acc, i) -> acc + element_at(vq, i) "
        f"* element_at(_w, j * {dim} + i)) >= 0 "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    quant = cut_lineage(
        frame.select("vec_id", "v", "nrm", "is_suite",
                     F.expr(vq).alias("vq")))
    wdf = spark.createDataFrame([(w,)], "_w array<bigint>")
    return (quant.crossJoin(F.broadcast(wdf))
            .select("vec_id", "v", "nrm", "is_suite",
                    F.expr(bits).alias("bits"))
            .transform(cut_lineage))


def _lsh_band_frame(signed: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, band_id, band_val) from a signed frame —
    SEMANTIC_LSH_BANDS rows per vector, each band value the packed
    sampled bits (per-band index constants from _lsh_band_indices,
    riding as one nested literal; the packing is a compact
    transform/aggregate pair, NOT an inlined 800-term expression —
    that form breaks whole-stage codegen's 64 KB method limit).
    The fan-out carries v/nrm for the rescore, which never crosses a
    shuffle boundary: the only exchange in any consumer is the verdict
    roll-up AFTER scoring projects the arrays away."""
    r = SEMANTIC_LSH_BAND_BITS
    bidx = "array(" + ", ".join(
        "array(" + ", ".join(str(i) for i in band) + ")"
        for band in _lsh_band_indices()) + ")"
    pw = "array(" + ", ".join(str(1 << i) for i in range(r)) + ")"
    bands = (f"transform({bidx}, idx -> aggregate(sequence(1, {r}), "
             f"CAST(0 AS BIGINT), (acc, p) -> acc "
             f"+ element_at(bits, element_at(idx, p) + 1) "
             f"* element_at({pw}, p)))")
    return (signed
            .select("vec_id", "v", "nrm",
                    F.posexplode(F.expr(bands))
                    .alias("band_id", "band_val")))


def lsh_screen_frame(corpus_signed: DataFrame,
                     suite_signed: DataFrame,
                     ingest_pred: "F.Column | None" = None) -> DataFrame:
    """The angle-keyed screen over SIGNED frames — the seam the
    streaming twin drives: band both sides, broadcast the suite's band
    rows, rescore matches with the exact cosine, one distinct-aware
    verdict roll-up (semantic_verdicts; ``ingest_pred`` switches on
    the suite-refresh output)."""
    return semantic_verdicts(*_lsh_candidates(corpus_signed, suite_signed),
                             distinct=True, ingest_pred=ingest_pred)


def _mulmod32_sql(expr: str, mult: int) -> str:
    """Overflow-safe (x * mult) % 2^32 in DuckDB SQL — key_hash's 16/16
    split with a parametrized multiplier, on an already-reduced x."""
    lo = f"(({expr}) % 65536)"
    hi = f"CAST((({expr}) - {lo}) / 65536 AS BIGINT)"
    return (f"(({lo} * {mult} + (({hi} * {mult}) % {MOD}) * 65536)"
            f" % {MOD})")


def _lsh_weight_ctes() -> str:
    """DuckDB CTE chain ``jd -> m1..m6 -> wrows``: the hyperplane
    weight matrix computed stepwise from the same integer finalizer as
    _mix32 (each xor-shift round its own CTE so no subexpression
    blowup), dims derived from the data. Requires an ``n`` CTE with a
    ``v`` column in scope."""
    return f"""jd AS (
  SELECT j.range AS j, d.d AS d
  FROM range(0, {SEMANTIC_LSH_POOL}) j,
       (SELECT DISTINCT u.i AS d FROM n,
        LATERAL (SELECT generate_subscripts(v, 1) AS i) u) d),
m1 AS (SELECT j, d,
              {_mulmod32_sql(f'(j * 100003 + d) % {MOD}', MULT)} AS h
       FROM jd),
m2 AS (SELECT j, d, xor(h, h >> 15) AS h FROM m1),
m3 AS (SELECT j, d, {_mulmod32_sql('h', _MIX_C2)} AS h FROM m2),
m4 AS (SELECT j, d, xor(h, h >> 13) AS h FROM m3),
m5 AS (SELECT j, d, {_mulmod32_sql('h', _MIX_C3)} AS h FROM m4),
m6 AS (SELECT j, d, xor(h, h >> 16) - {MOD // 2} AS wt FROM m5),
wrows AS (SELECT j, list(wt ORDER BY d) AS wrow FROM m6 GROUP BY j)"""


def _lsh_band_ctes() -> str:
    """DuckDB CTE chain ``vqx -> bitrows -> bitarr -> bandrows``:
    quantized vectors -> exact-integer hyperplane bits -> packed band
    values, the oracle twin of _lsh_band_frame (band bit indices are
    the same _lsh_band_indices constants)."""
    bv = ", ".join(
        " + ".join(f"bits[{i + 1}] * {1 << r}"
                   for r, i in enumerate(band))
        for band in _lsh_band_indices())
    return f"""vqx AS (
  SELECT vec_id, v, nrm, is_suite,
         list_transform(range(1, len(v) + 1),
                        i -> CAST(floor(v[i] / nrm
                                        * {SEMANTIC_LSH_QSCALE})
                                  AS BIGINT)) AS vq
  FROM n),
bitrows AS (
  SELECT vec_id, j,
         CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, len(vq) + 1),
                               i -> vq[i] * wrow[i])),
                (acc, x) -> acc + x) >= 0
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
  FROM vqx CROSS JOIN wrows),
bitarr AS (
  SELECT vec_id, list(bit ORDER BY j) AS bits
  FROM bitrows GROUP BY vec_id),
bandrows AS (
  SELECT b.vec_id, CAST(u.i - 1 AS BIGINT) AS band_id,
         u.x AS band_val
  FROM (SELECT vec_id, list_value({bv}) AS bv FROM bitarr) b,
       LATERAL (SELECT unnest(bv) AS x,
                       generate_subscripts(bv, 1) AS i) u)"""


# ---------------------------------------------------------------------------
# the semantic screen's candidate schedules
# ---------------------------------------------------------------------------
# Each Spark candidate stage takes the corpus side (non-suite vectors,
# already fanned out and ingest-filtered as the form asks) and the
# suite vectors, and returns (corpus, broadcast suite side, join
# condition) for semantic_verdicts. ``refresh`` asks a row-counting
# schedule for the suite side's s_is_new column.


def _cell_candidates(corpus: DataFrame, suite: DataFrame,
                     *_) -> tuple:
    """Single probe: suite vectors in the corpus vector's own cell."""
    return corpus, _cell_suite(suite), F.col("label") == F.col("s_label")


def _multiprobe_candidates(corpus: DataFrame, suite: DataFrame,
                           refresh: bool, spark: SparkSession,
                           sf_dir: str) -> tuple:
    """Own cell AND its most-confusable neighbor cell (_cell_probe_map):
    the corpus side fans out 2x before the same broadcast suite join."""
    probes = _cell_probe_map(spark, sf_dir)
    return (corpus.join(F.broadcast(probes), "label"), _cell_suite(suite),
            F.col("probe_label") == F.col("s_label"))


def _topk_candidates(corpus: DataFrame, suite: DataFrame, refresh: bool,
                     spark: SparkSession, sf_dir: str) -> tuple:
    """Suite-top-k: each suite vector multi-assigned to its
    SEMANTIC_PROBE_K most-plausible cells (_suite_probe_expansion), the
    corpus on its own single cell. The new-release flag rides on the
    expanded rows (suite-sized math, no corpus work)."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    exp = _suite_probe_expansion(suite, _full_centroid_arrays(spark, sf_dir),
                                 SEMANTIC_PROBE_K, keep_id=refresh)
    if refresh:
        exp = exp.select("s_label", "sv", "snrm",
                         _is_new("s_vec").alias("s_is_new"))
    return corpus, exp, F.col("label") == F.col("s_label")


def _exact_candidates(corpus: DataFrame, suite: DataFrame,
                      refresh: bool, *_) -> tuple:
    """Every suite vector (no blocking): recall 1.0 by construction."""
    new = [_is_new("vec_id").alias("s_is_new")] if refresh else []
    return (corpus,
            suite.select(F.col("v").alias("sv"), F.col("nrm").alias("snrm"),
                         *new),
            None)


def _lsh_candidates(corpus: DataFrame, suite: DataFrame, *_) -> tuple:
    """Angle-keyed: both sides banded from their signatures, equi-joined
    on (band_id, band_val)."""
    suite_b = (_lsh_band_frame(suite)
               .select(F.col("vec_id").alias("s_vec"),
                       F.col("v").alias("sv"),
                       F.col("nrm").alias("snrm"),
                       "band_id", "band_val"))
    return _lsh_band_frame(corpus), suite_b, ["band_id", "band_val"]


class SemanticSchedule(NamedTuple):
    """One candidate schedule of the semantic screen — which suite
    vectors a corpus vector is scored against — in both engines."""
    # (spark, sf_dir) -> is_suite-flagged vectors the schedule reads
    vectors: Callable
    # Spark candidate stage (see above)
    candidates: Callable
    # DuckDB CTE builders the candidate join needs after pre/n
    ctes: tuple
    # DuckDB candidate join: corpus row ``c``, suite row ``s`` of ``n``
    join: str
    # repartition the corpus before the dot stage: the corpus side is a
    # single-split scan at test SFs (one parquet row group), so the dot
    # stage would run on one core. Measured per schedule: it pays where
    # the candidate volume is large (suite-top-k 2.0 -> 0.86 s, exact),
    # not for the single cell (0.57 -> 0.62 s); the LSH signatures are
    # fanned out before signing.
    fan_out: bool
    # count DISTINCT s_vec (semantic_verdicts)
    distinct: bool
    # form -> registry query name
    forms: dict
    # method label in semantic_screen_recall_audit ("" = the baseline)
    audit: str = ""


SEMANTIC_SCHEDULES = {
    "cell": SemanticSchedule(
        _suite_flagged_embeddings, _cell_candidates, (),
        "n c JOIN n s ON s.is_suite AND s.label = c.label",
        fan_out=False, distinct=False,
        forms={"batch": "decontaminate_embedding",
               "incremental": "decontaminate_embedding_incremental"},
        audit="cell_blocked"),
    "multiprobe": SemanticSchedule(
        _suite_flagged_embeddings, _multiprobe_candidates,
        (_centroid_core_ctes, _probe_map_ctes),
        "n c JOIN probe_map p ON p.label = c.label "
        "JOIN n s ON s.is_suite AND s.label = p.probe_label",
        fan_out=False, distinct=False,
        forms={"batch": "decontaminate_embedding_multiprobe"},
        audit="cell_multiprobe"),
    "topk": SemanticSchedule(
        _suite_flagged_embeddings, _topk_candidates,
        (_centroid_core_ctes, _suite_rank_cte),
        "n c JOIN srank p ON p.s_label = c.label "
        f"AND p.rk <= {SEMANTIC_PROBE_K} "
        "JOIN n s ON s.is_suite AND s.vec_id = p.s_vec",
        fan_out=True, distinct=False,
        forms={"batch": "decontaminate_embedding_recallk",
               "incremental": "decontaminate_embedding_recallk_incremental",
               "suite_refresh": "decontaminate_embedding_suite_refresh"},
        audit="suite_topk_probe"),
    "exact": SemanticSchedule(
        _suite_flagged_embeddings, _exact_candidates, (),
        "n c JOIN n s ON s.is_suite",
        fan_out=True, distinct=False,
        forms={"batch": "decontaminate_embedding_exact",
               "incremental": "decontaminate_embedding_exact_incremental",
               "suite_refresh":
                   "decontaminate_embedding_exact_suite_refresh"}),
    "lsh": SemanticSchedule(
        _lsh_signed, _lsh_candidates, (_lsh_weight_ctes, _lsh_band_ctes),
        "bandrows cb JOIN bandrows sb ON sb.band_id = cb.band_id "
        "AND sb.band_val = cb.band_val "
        "JOIN n c ON c.vec_id = cb.vec_id "
        "JOIN n s ON s.is_suite AND s.vec_id = sb.vec_id",
        fan_out=False, distinct=True,
        forms={"batch": "decontaminate_embedding_lsh",
               "incremental": "decontaminate_embedding_lsh_incremental",
               "suite_refresh": "decontaminate_embedding_lsh_suite_refresh"},
        audit="lsh_bands"),
}


def _semantic_screen(spark: SparkSession, sf_dir: str, schedule: str,
                     form: str) -> DataFrame:
    """A schedule's form in Spark. ``incremental`` screens only the
    incoming batch against the fixed suite (eval benchmarks change by
    explicit release, not by corpus ingest, so there is no
    incoming-x-incoming term: per-ingest cost O(batch), rows identical
    to the batch screen's for those ids); ``suite_refresh`` is the
    phase-labeled release form (semantic_verdicts)."""
    s = SEMANTIC_SCHEDULES[schedule]
    n = s.vectors(spark, sf_dir)
    corpus = n.filter(~F.col("is_suite"))
    if s.fan_out:
        corpus = fan_out(corpus)
    if form == "incremental":
        corpus = corpus.filter(_is_new("vec_id"))
    refresh = form == "suite_refresh"
    return semantic_verdicts(
        *s.candidates(corpus, n.filter("is_suite"), refresh, spark, sf_dir),
        distinct=s.distinct,
        ingest_pred=_is_new("vec_id") if refresh else None)


def _semantic_ctes(*schedules: str) -> str:
    """DuckDB CTEs for the candidate joins of ``schedules``: the normed
    vectors ``pre``/``n`` with _suite_flagged_embeddings' membership,
    then each builder the joins need, once."""
    builders = dict.fromkeys(b for name in schedules
                             for b in SEMANTIC_SCHEDULES[name].ctes)
    suite = f"{key_hash('vec_id')} < {BENCH_RATE}"
    return ",\n".join([H.normed_ctes(is_suite=suite),
                       *(b() for b in builders)])


def _flagged_sql(schedule: str) -> str:
    """DuckDB: the corpus vectors a schedule flags (candidate join +
    cosine gate), one row each."""
    return (f"SELECT DISTINCT c.vec_id "
            f"FROM {SEMANTIC_SCHEDULES[schedule].join} "
            f"WHERE NOT c.is_suite "
            f"AND {H.cosine_sql('c', 's')} >= {SEMANTIC_COSINE_THRESHOLD}")


def semantic_screen_oracle(schedule: str, form: str) -> str:
    """DuckDB oracle of a schedule's form, composed from the schedule's
    SQL candidate join and never from the Spark stage, so an oracle
    cannot share the bug it checks."""
    s = SEMANTIC_SCHEDULES[schedule]
    inc = (f"AND c.vec_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW} "
           if form == "incremental" else "")
    refresh = form == "suite_refresh"

    def count(pred: str) -> str:
        if s.distinct:
            return f"COUNT(DISTINCT CASE WHEN {pred} THEN s_vec END)"
        return f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)"
    hit = f"cosine >= {SEMANTIC_COSINE_THRESHOLD}"
    counts = f"CAST({count(hit)} AS BIGINT) AS n_hits"
    phase = new_col = ""
    if refresh:
        counts += (f",\n         CAST({count(hit + ' AND s_new')} AS BIGINT)"
                   f" AS n_hits_new_suite")
        phase = (f"\n       CASE WHEN c.vec_id % {INCREMENTAL_MOD} >= "
                 f"{INCREMENTAL_NEW} THEN 'ingest' ELSE 'backfill' END"
                 f" AS phase,")
        new_col = ("\n       CAST(COALESCE(h.n_hits_new_suite, 0) AS BIGINT)"
                   " AS n_hits_new_suite,")
    return f"""
WITH {_semantic_ctes(schedule)},
scored AS (
  SELECT c.vec_id, s.vec_id AS s_vec,
         s.vec_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW} AS s_new,
         {H.cosine_sql('c', 's')} AS cosine
  FROM {s.join}
  WHERE NOT c.is_suite {inc}),
hits AS (
  SELECT vec_id, MAX(cosine) AS max_cosine,
         {counts}
  FROM scored GROUP BY vec_id)
SELECT c.vec_id,{phase}
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,{new_col}
       COALESCE(h.max_cosine, CAST({_NO_CANDIDATE} AS DOUBLE))
         AS max_cosine,
       COALESCE(h.n_hits, 0) >= 1 AS contaminated
FROM n c LEFT JOIN hits h ON h.vec_id = c.vec_id
WHERE NOT c.is_suite {inc}
ORDER BY c.vec_id
"""


# the docstring-only decontaminate_embedding* definitions below: body
# _semantic_screen, oracle semantic_screen_oracle
_semantic_entry = _screen_entry((QUERIES, ORACLES), SEMANTIC_SCHEDULES,
                                semantic_screen_oracle, _semantic_screen)


@_semantic_entry
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic test-set decontamination: flag corpus entities whose
    EMBEDDING is close to a held-out benchmark embedding. The lexical
    screens (decontaminate_ngram_overlap / _multi_suite / strip_spans)
    are exact-surface-form by construction — an eval document that was
    paraphrased or re-tokenized shares no 3-gram and sails through all
    of them; in embedding space the paraphrase stays near its source,
    which is what this screen keys on (the standard embedding-similarity
    decontamination pass run alongside the n-gram one for LLM training
    sets). The two screens share the benchmark membership function, so
    a training pipeline unions their contaminated sets per entity.

    Scale shape: the suite side is an eval benchmark — thousands of
    rows in a deployment (the ~5% hash sample is the self-contained
    test-data stand-in, same convention as the lexical screens) — so
    it broadcasts; the corpus side streams once through an equi-join
    on the coarse cell (label = IVF cell, the blocking the whole
    embedding family shares). No pair space, no self-join: cost is one
    corpus scan regardless of corpus size. If the suite ever outgrows
    broadcast, the salted (label, salt) equi-join
    dedup_embedding_cosine uses applies unchanged.

    Recall caveat (inherent to IVF-style blocking): a paraphrase
    quantized into a DIFFERENT cell than its suite source escapes this
    screen; the multiprobe, suite-top-k, exact and LSH schedules are
    the remedies, priced by semantic_screen_recall_audit."""


@_semantic_entry
def decontaminate_embedding_incremental(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Delta-ingest form of decontaminate_embedding: only the incoming
    batch is screened against the fixed suite (_semantic_screen)."""


@_semantic_entry
def decontaminate_embedding_multiprobe(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """decontaminate_embedding probing each corpus vector's own cell
    AND its most-confusable neighbor cell — exactly where
    ivf_cell_similarity_matrix says single-probe recall leaks, and the
    same own+nearest schedule ann_lsh_multiprobe uses on the LSH side.
    The probe map is n_cells^2 centroid math (corpus-size independent,
    memoized centroids); the corpus side fans out 2x before the SAME
    broadcast suite join — still one corpus scan, no pair space."""


@_semantic_entry
def decontaminate_embedding_recallk(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The deployable semantic decontamination screen: cell blocking
    audits at 13% recall — the paraphrases the screen exists to catch
    sit barely inside the cosine threshold, so they land in a DIFFERENT
    cell than their suite source ~9 times in 10. This form
    multi-assigns each SUITE vector to its SEMANTIC_PROBE_K
    most-plausible cells (rank by centroid cosine — classic IVF
    multi-probe applied to the query side) so a corpus vector anywhere
    in those cells sees it. Audited recall 0.905 (sf0.01) / 0.883
    (sf0.1) >= SEMANTIC_RECALL_TARGET; semantic_probe_recall_sweep
    shows the whole probes-vs-recall frontier and semantic_screen_policy
    picks the schedule per corpus.

    Scale shape: the fan-out is k x |suite| BROADCAST rows (an eval
    benchmark is thousands of vectors; the corpus side is untouched) —
    one corpus scan, single-cell equi-join, no pair space; candidate
    volume O(corpus x k x |suite| / n_cells)."""


@_semantic_entry
def decontaminate_embedding_recallk_incremental(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest form of decontaminate_embedding_recallk, against
    the SAME multi-assigned suite artifact (fixed per benchmark
    release: the expansion is computed once per suite x quantizer, not
    per ingest)."""


@_semantic_entry
def decontaminate_embedding_exact(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The unblocked semantic screen as a deployment artifact: every
    corpus vector against every suite vector — recall 1.0 by
    construction. semantic_screen_policy dispatches it when the
    candidate volume at the recall target approaches the exact pair
    space, so blocking is bookkeeping without savings. Still one corpus
    scan with a broadcast suite — O(corpus x |suite|) dot products,
    embarrassingly parallel, no shuffle beyond the verdict roll-up."""


@_semantic_entry
def decontaminate_embedding_exact_incremental(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest form of decontaminate_embedding_exact: incoming
    batch x full suite, O(batch x |suite|)."""


@_semantic_entry
def decontaminate_embedding_suite_refresh(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """The suite-top-k screen's release event: a benchmark release adds
    suite members after the corpus snapshot. Ingest rows are the
    incoming batch against the full suite, backfill rows the existing
    corpus re-screened — in a deployment only against the new members
    (the fixed expansion artifact simply gains their rows), a bill of
    O(corpus x |new members| x k / n_cells), never a full re-screen.
    Every row is decontaminate_embedding_recallk's row plus (phase,
    n_hits_new_suite)."""


@_semantic_entry
def decontaminate_embedding_exact_suite_refresh(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact screen's release event, phase-labeled like
    decontaminate_embedding_suite_refresh: the backfill bill is
    O(corpus x |new members|) exact dots, and recall stays 1.0 by
    construction through the release, which is the point of
    dispatching exact. Every row is decontaminate_embedding_exact's row
    plus (phase, n_hits_new_suite)."""


@_semantic_entry
def decontaminate_embedding_lsh(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The angle-keyed semantic decontamination screen — the schedule
    semantic_screen_policy dispatches when the quantizer's cells carry
    no signal about the cosine threshold (this testdata's regime),
    giving that regime a sub-exact option. n_hits counts DISTINCT suite
    vectors scored at or above the threshold among band-matched
    candidates (a blocked subset of the exact screen's —
    semantic_screen_recall_audit measures what the blocking loses).

    Scale shape: signatures are POOL exact-integer dots per vector —
    scan-local, corpus- and suite-size independent (vs the exact
    screen's |suite| dots per corpus vector); the band fan-out is
    SEMANTIC_LSH_BANDS small rows per vector into a broadcast-suite
    equi-join (candidate volume is the measured ~0.34 of the exact
    pair space on this worst-case corpus, structurally lower on any
    clustered one); one aggregate exchange total. In a deployment the
    signature column persists next to the vectors (the _coded_corpus
    convention) and the suite's band table is a fixed per-release
    broadcast artifact.

    The rescore stays the ``zip_with`` fold on measurement (SCALING.md
    has the receipts): an int8/Hamming prefilter is structurally zero
    — max_cosine is exact over ALL candidates, a sound estimate costs a
    same-length integer dot, and Hamming on fixed hyperplanes has no
    sound per-pair cosine bound; the index fold (aggregate over
    sequence(1, dim) with element_at) looked 1.27x faster at sf0.1 but
    was 1.25-1.6x SLOWER at rescore-dominant scale (94M/258M-dot walls)
    — HOF lambdas are interpreted, so its two element_at calls per step
    cost more than zip_with's single multiply plus one small array."""


@_semantic_entry
def decontaminate_embedding_lsh_incremental(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest form of decontaminate_embedding_lsh: only the
    incoming batch signs and screens, against the SAME fixed suite band
    artifact."""


@_semantic_entry
def decontaminate_embedding_lsh_suite_refresh(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """The angle-keyed screen's release event, phase-labeled like
    decontaminate_embedding_suite_refresh: the backfill bill is only
    the NEW members' band rows against the PERSISTED corpus signatures
    (new members sign — suite-sized math — and the standing corpus
    never re-signs). Every row is decontaminate_embedding_lsh's row
    plus (phase, n_hits_new_suite)."""


def _semantic_true_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once exact-screen positive PAIRS (vec_id, label,
    s_vec) — the brute-force audit baseline shared by the recall
    audit, the probe sweep, the band sweep, and the policy, so the
    corpus pays the corpus x broadcast-suite dot stage once per
    (session, dataset) (the _audit_topk_table / strip-spans
    convention). Bounded-corpus audit machinery: at 100 TB the
    consumers sample, they never sweep."""
    def build() -> DataFrame:
        n = _suite_flagged_embeddings(spark, sf_dir)
        suite_all = (n.filter("is_suite")
                     .select(F.col("vec_id").alias("s_vec"),
                             F.col("v").alias("sv"),
                             F.col("nrm").alias("snrm")))
        # fanned out like the exact schedule: the full-pair-space dot
        # stage is the most compute-dense stage in the family
        return (fan_out(n.filter(~F.col("is_suite")))
                .crossJoin(F.broadcast(suite_all))
                .filter((F.expr(_SV_DOT) / (F.col("nrm") * F.col("snrm")))
                        >= SEMANTIC_COSINE_THRESHOLD)
                .select("vec_id", "label", "s_vec")
                .transform(cut_lineage))
    return session_memo(spark, ("semantic_true_pairs", sf_dir), build)


def _lsh_first_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once band-matched candidate PAIR table (vec_id,
    s_vec, fb): every distinct corpus-suite pair the angle-keyed screen
    would candidate, with its first matching band id — the
    _semantic_true_pairs convention applied to the banded side, shared
    by the band sweep (per-b cumulative folds) and the policy
    (candidate volume + caught counts): one band join + one pair-level
    min aggregate per (session, dataset). Bounded-corpus audit
    machinery like the true-pair table: at 100 TB the sweep/policy
    consumers sample, they never sweep."""
    def build() -> DataFrame:
        signed = _lsh_signed(spark, sf_dir)
        suite_b = (_lsh_band_frame(signed.filter("is_suite"))
                   .select(F.col("vec_id").alias("s_vec"),
                           "band_id", "band_val"))
        matched = (_lsh_band_frame(signed.filter(~F.col("is_suite")))
                   .select("vec_id", "band_id", "band_val")
                   .join(F.broadcast(suite_b), ["band_id", "band_val"]))
        return (matched.groupBy("vec_id", "s_vec")
                .agg(F.min("band_id").alias("fb"))
                .transform(cut_lineage))
    return session_memo(spark, ("lsh_first_band", sf_dir), build)


def semantic_lsh_band_sweep(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The bands-vs-recall frontier of the angle-keyed screen — the
    lsh_banding_sweep / semantic_probe_recall_sweep pattern for the
    third schedule, so SEMANTIC_LSH_BANDS is a measured choice with an
    oracle-paired receipt (not a simulation claim). Per band-prefix
    size b = 1..SEMANTIC_LSH_BANDS: candidate_pairs (distinct
    corpus-suite pairs matched by at least one of the first b bands —
    each pair counted at its FIRST matching band, so the per-b numbers
    are one cumulative fold over a pair-level min, not b re-joins),
    n_true (exact-screen positive entities), n_caught (positives whose
    earliest band-matched true pair sits below b), recall,
    meets_target. The b = SEMANTIC_LSH_BANDS row IS the production
    screen: its recall equals semantic_screen_recall_audit's lsh_bands
    row and its candidate volume equals the policy's lsh_cand_pairs
    (both pinned by pytest).

    Scale shape: one band join over the memoized signature table
    (the screen's own join, ids + band only), one pair-level min
    aggregate, one bounded-corpus exact baseline (the audit-samples-
    at-scale convention), then b-indexed cumulative folds over
    pair/entity-level rows."""
    # the band join + pair-level min is the memoized pair artifact —
    # consumed twice below (cand, entity_fb), and shared with the
    # policy's pricing terms
    first_band = _lsh_first_band(spark, sf_dir)
    bs = spark.range(1, SEMANTIC_LSH_BANDS + 1).select(
        F.col("id").cast("int").alias("b"))
    cand = (first_band.join(F.broadcast(bs), F.col("fb") < F.col("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("candidate_pairs")))
    # exact baseline (memoized pair table) + per-entity earliest
    # band-matched TRUE pair
    true_pairs = _semantic_true_pairs(spark, sf_dir) \
        .select("vec_id", "s_vec")
    n_true = (true_pairs.select("vec_id").distinct()
              .agg(F.count(F.lit(1)).cast("long").alias("n_true")))
    entity_fb = (true_pairs.join(first_band, ["vec_id", "s_vec"])
                 .groupBy("vec_id")
                 .agg(F.min("fb").alias("efb")))
    caught = (entity_fb.join(F.broadcast(bs), F.col("efb") < F.col("b"))
              .groupBy("b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_caught")))
    return (
        bs.join(F.broadcast(cand), "b", "left")
        .join(F.broadcast(caught), "b", "left")
        .crossJoin(F.broadcast(n_true))
        .selectExpr(
            "b",
            "COALESCE(candidate_pairs, CAST(0 AS BIGINT))"
            " AS candidate_pairs",
            "n_true",
            "COALESCE(n_caught, CAST(0 AS BIGINT)) AS n_caught",
            "CAST(COALESCE(n_caught, 0) AS DOUBLE)"
            " / CAST(nullif(n_true, 0) AS DOUBLE) AS recall",
            "CAST(COALESCE(n_caught, 0) AS DOUBLE)"
            f" / CAST(nullif(n_true, 0) AS DOUBLE)"
            f" >= {SEMANTIC_RECALL_TARGET} AS meets_target")
        .orderBy("b")
    )


SEMANTIC_LSH_SWEEP_SQL = f"""
WITH {_semantic_ctes("lsh")},
firstband AS (
  SELECT c.vec_id, s.vec_id AS s_vec,
         CAST(MIN(cb.band_id) AS BIGINT) AS fb
  FROM {SEMANTIC_SCHEDULES["lsh"].join}
  WHERE NOT c.is_suite
  GROUP BY c.vec_id, s.vec_id),
bs AS (SELECT CAST(range AS INT) AS b
       FROM range(1, {SEMANTIC_LSH_BANDS + 1})),
cand AS (
  SELECT bs.b, CAST(COUNT(*) AS BIGINT) AS candidate_pairs
  FROM firstband f JOIN bs ON f.fb < bs.b GROUP BY bs.b),
tp AS (
  SELECT c.vec_id, s.vec_id AS s_vec
  FROM {SEMANTIC_SCHEDULES["exact"].join}
  WHERE NOT c.is_suite
    AND {H.cosine_sql('c', 's')} >= {SEMANTIC_COSINE_THRESHOLD}),
nt AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_true FROM tp),
efb AS (
  SELECT t.vec_id, MIN(f.fb) AS efb
  FROM tp t JOIN firstband f
    ON f.vec_id = t.vec_id AND f.s_vec = t.s_vec
  GROUP BY t.vec_id),
caught AS (
  SELECT bs.b, CAST(COUNT(*) AS BIGINT) AS n_caught
  FROM efb e JOIN bs ON e.efb < bs.b GROUP BY bs.b)
SELECT bs.b,
       COALESCE(cand.candidate_pairs, CAST(0 AS BIGINT))
         AS candidate_pairs,
       nt.n_true,
       COALESCE(caught.n_caught, CAST(0 AS BIGINT)) AS n_caught,
       CAST(COALESCE(caught.n_caught, 0) AS DOUBLE)
         / CAST(NULLIF(nt.n_true, 0) AS DOUBLE) AS recall,
       CAST(COALESCE(caught.n_caught, 0) AS DOUBLE)
         / CAST(NULLIF(nt.n_true, 0) AS DOUBLE)
         >= {SEMANTIC_RECALL_TARGET} AS meets_target
FROM bs
LEFT JOIN cand ON cand.b = bs.b
LEFT JOIN caught ON caught.b = bs.b
CROSS JOIN nt
ORDER BY bs.b
"""


QUERIES["semantic_lsh_band_sweep"] = semantic_lsh_band_sweep
ORACLES["semantic_lsh_band_sweep"] = SEMANTIC_LSH_SWEEP_SQL


# No-hit sentinel for the perceptual screen's min_hamming (outside the
# valid [0, 56] hamming range, the _NO_CANDIDATE convention).
PHASH_NO_HIT = -1
# No-candidate sentinel for the video screen's max_frames_matched
# (frames_matched lives in [0, VFP_FRAMES]; hits carry >= min_frames).
VFP_NO_HIT = -1


def _sig56_screen_frame(corpus: DataFrame, suite: DataFrame,
                        ingest_pred: "F.Column | None" = None, *,
                        col: str, n_bands: int,
                        hamming_max: int) -> DataFrame:
    """The 56-bit-signature screen body shared across modalities (the
    image and audio families' verdict body) — corpus (doc_id, ``col``)
    against a broadcast suite (s_doc, s_``col``) under the production
    strided banding: with hamming_max < n_bands the banded join is
    EXACT by pigeonhole, so every screen built on this frame has recall
    1.0 structurally. min_hamming is computed over HITS only (hits are
    banding-invariant; near-miss candidates are not, and the verdict
    must not depend on the blocking layout). One code path for the
    batch, incremental, suite-refresh and streaming forms, so the gate
    can't drift between them.

    ``ingest_pred`` switches on the SUITE-REFRESH output (the
    embedding screen's decontaminate_embedding_suite_refresh story):
    hits split by whether the matched suite asset is a NEW-RELEASE
    member (the corpus-wide release convention on s_doc — disjoint
    from the old suite, so n_hits decomposes exactly as persisted-old
    + n_hits_new_suite) and each row gains its growth-event phase
    (ingest under the family's convention, else backfill). ONE
    roll-up for both forms, so the verdict shape can't drift between
    the screen and its refresh."""
    scored = _sig56_scored(
        corpus.select("doc_id", F.col(col).alias("sig")),
        suite.select("s_doc", F.col(f"s_{col}").alias("s_sig")), n_bands)
    hit = F.col("hamming") <= hamming_max
    aggs = [F.countDistinct(F.when(hit, F.col("s_doc")))
            .cast("long").alias("n_hits")]
    cols = ["doc_id", "n_hits"]
    if ingest_pred is not None:
        s_new = (F.col("s_doc") % INCREMENTAL_MOD) >= INCREMENTAL_NEW
        aggs.append(
            F.countDistinct(F.when(hit & s_new, F.col("s_doc")))
            .cast("long").alias("n_hits_new_suite"))
        cols = ["doc_id",
                F.when(ingest_pred, F.lit("ingest"))
                .otherwise(F.lit("backfill")).alias("phase"),
                "n_hits", "n_hits_new_suite"]
    aggs.append(
        F.coalesce(F.min(F.when(hit, F.col("hamming"))),
                   F.lit(PHASH_NO_HIT)).cast("int")
        .alias("min_hamming"))
    return (
        scored.groupBy("doc_id")
        .agg(*aggs)
        .select(*cols, "min_hamming",
                (F.col("n_hits") >= 1).alias("contaminated"))
        .orderBy("doc_id")
    )


def _sig56_scored(corpus: DataFrame, suite: DataFrame,
                  n_bands: int) -> DataFrame:
    """The 56-bit screens' shared candidate+verify stage: corpus
    (doc_id, sig) LEFT-joined to the broadcast suite band table on
    (band_idx, band_val) under the production strided banding, hamming
    verified in the same projection — (doc_id, s_doc, hamming), with
    one null-hamming row per candidate-less corpus asset so the
    roll-ups need no second corpus join."""
    layout = Layout("strided", n_bands)
    suite_bands = explode_bands(suite, band_exprs("s_sig", layout, "spark"),
                                "s_doc", "s_sig")
    corpus_bands = explode_bands(corpus, band_exprs("sig", layout, "spark"),
                                 "doc_id", "sig")
    return (
        band_join(corpus_bands, F.broadcast(suite_bands), how="left")
        .select("doc_id", "s_doc",
                F.when(F.col("s_sig").isNotNull(),
                       F.expr(H.hamming("sig", "s_sig", "spark")))
                .alias("hamming")))


def vfp_screen_frame(corpus: DataFrame, suite: DataFrame,
                     ingest_pred: "F.Column | None" = None) -> DataFrame:
    """Shared verdict body of the video screen — corpus frame
    signatures (doc_id, frame_idx, vfh) against suite frame signatures
    (s_doc, frame_idx, vfh): banded per-frame broadcast join, clip
    candidates, M-of-K frame-match verify, per-clip roll-up. One code
    path for the batch, incremental, streaming, AND suite-refresh
    forms (the _sig56_screen_frame convention lifted to multi-row
    signatures): ``ingest_pred`` switches on the refresh output —
    matched suite CLIPS split by the corpus-wide release convention
    (n_hits_new_suite) plus the growth-event phase, through the same
    single roll-up."""
    c_docs, matched = _vfp_matched_clips(corpus, suite)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    cols = [F.col("doc_id"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits")]
    if ingest_pred is not None:
        s_new = (F.col("s_doc") % INCREMENTAL_MOD) >= INCREMENTAL_NEW
        aggs.append(F.sum(F.when(s_new, 1).otherwise(0))
                    .cast("long").alias("n_hits_new_suite"))
        cols = [F.col("doc_id"),
                F.when(ingest_pred, F.lit("ingest"))
                .otherwise(F.lit("backfill")).alias("phase"),
                F.coalesce("n_hits", F.lit(0)).cast("long")
                .alias("n_hits"),
                F.coalesce("n_hits_new_suite", F.lit(0)).cast("long")
                .alias("n_hits_new_suite")]
    aggs.append(F.max("frames_matched").cast("int")
                .alias("max_frames_matched"))
    hits = matched.groupBy("doc_id").agg(*aggs)
    return (
        c_docs.select("doc_id").join(hits, "doc_id", "left")
        .select(
            *cols,
            F.coalesce("max_frames_matched", F.lit(VFP_NO_HIT))
            .cast("int").alias("max_frames_matched"),
            (F.coalesce("n_hits", F.lit(0)) >= 1).alias("contaminated"))
        .orderBy("doc_id")
    )


def _vfp_matched_clips(corpus: DataFrame,
                       suite: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """(c_docs, matched): the video screen's shared candidate+verify
    stage — corpus frames folded per clip, banded per-frame broadcast
    join to clip candidates, M-of-K frame-match verify. matched is
    (doc_id, s_doc, frames_matched) for hits only."""
    suite_d = suite.select(F.col("s_doc").alias("doc_id"),
                           "frame_idx", "vfh")
    cand = _vfp_screen_candidates(corpus, suite_d)
    c_docs = (corpus.groupBy("doc_id")
              .agg(F.array_sort(
                  F.collect_list(F.struct("frame_idx", "vfh")))
                  .alias("f1")))
    s_docs = (suite_d.groupBy(F.col("doc_id").alias("s_doc"))
              .agg(F.array_sort(
                  F.collect_list(F.struct("frame_idx", "vfh")))
                  .alias("f2")))
    in_gate = (f"CASE WHEN {H.hamming('x.vfh', 'y.vfh', 'spark')}"
               f" <= {_VIDEO.hamming_max} THEN 1 ELSE 0 END")
    matched = (
        cand.join(c_docs, "doc_id").join(F.broadcast(s_docs), "s_doc")
        .withColumn(
            "frames_matched",
            F.expr(f"CAST(aggregate(zip_with(f1, f2, (x, y) -> {in_gate}),"
                   f" 0, (acc, v) -> acc + v) AS BIGINT)"))
        .filter(F.col("frames_matched") >= _VIDEO.min_frames))
    return c_docs, matched


def _vfp_screen_candidates(corpus: DataFrame,
                           suite: DataFrame) -> DataFrame:
    """Distinct (doc_id, s_doc) clip candidates from the per-(frame,
    band) broadcast join — the suite side is an eval battery, so the
    band table broadcasts and no pair space materializes."""
    suite_bands = _vfp_bands(suite).withColumnRenamed("doc_id", "s_doc")
    return (
        band_join(_vfp_bands(corpus), F.broadcast(suite_bands),
                  ["frame_idx"])
        .select("doc_id", "s_doc")
        .dropDuplicates(["doc_id", "s_doc"]))


class PerceptualScreen(NamedTuple):
    """One perceptual screen family — image (phash), audio (afp) or
    video (vfp) signatures against the key_hash suite — in both engines.
    Its batch, incremental and suite_refresh forms, their oracles and
    its recall-audit rows come from here; the signatures, their DuckDB
    CTEs, the banding gate (a suite asset is a hit when >= min_frames
    aligned hashes are within hamming_max) and the ingest predicate
    come from the dedup family ``fam``."""
    # Spark verdict body: (corpus, suite, ingest_pred) -> verdicts
    screen: Callable
    # corpus signature columns after doc_id, and their suite-side names
    cols: list
    suite_cols: list
    fam: BandedFamily
    # verdict score over the hits: (column, DuckDB aggregate, no-hit value)
    score: tuple
    # form -> registry query name
    forms: dict
    # recall-audit label -> min_frames of its exact unblocked baseline
    audit: dict


def _sig56(fam: BandedFamily, **spec) -> PerceptualScreen:
    """A one-hash-per-asset family: _sig56_screen_frame on its hash."""
    return PerceptualScreen(
        functools.partial(_sig56_screen_frame, col=fam.sig,
                          n_bands=fam.layout.n_bands,
                          hamming_max=fam.hamming_max),
        [fam.sig], [f"s_{fam.sig}"], fam,
        score=("min_hamming", "MIN(hamming)", PHASH_NO_HIT), **spec)


PERCEPTUAL_SCREENS = {
    "phash": _sig56(
        _IMAGE,
        forms={"batch": "decontaminate_phash",
               "incremental": "decontaminate_phash_incremental",
               "suite_refresh": "decontaminate_phash_suite_refresh"},
        audit={"image": 1}),
    "afp": _sig56(
        _AUDIO,
        forms={"batch": "decontaminate_afp",
               "incremental": "decontaminate_afp_incremental",
               "suite_refresh": "decontaminate_afp_suite_refresh"},
        audit={"audio": 1}),
    "vfp": PerceptualScreen(
        vfp_screen_frame, ["frame_idx", "vfh"], ["frame_idx", "vfh"], _VIDEO,
        score=("max_frames_matched", "MAX(frames_matched)", VFP_NO_HIT),
        forms={"batch": "decontaminate_vfp",
               "incremental": "decontaminate_vfp_incremental",
               "suite_refresh": "decontaminate_vfp_suite_refresh"},
        # video_gate: vs the ANY-frame (M=1) baseline, the family's one
        # designed loss; video_mofk: vs the exact join under the SAME gate
        audit={"video_gate": 1, "video_mofk": _VIDEO.min_frames}),
}


def _perceptual_screen(spark: SparkSession, sf_dir: str, family: str,
                       form: str = "batch",
                       corpus_pred: "F.Column | None" = None) -> DataFrame:
    """Shared setup of every form of the image, audio and video
    screens: the family's memoized signature table, the key_hash suite
    split, and the family's ingest predicate, which restricts
    the corpus side (``incremental``) or labels the suite-refresh
    phases (``suite_refresh``, see _sig56_screen_frame).
    ``corpus_pred`` restricts the corpus side by another convention
    (the manifest's)."""
    p = PERCEPTUAL_SCREENS[family]
    new = F.expr(p.fam.ingest)
    sigs = _bench_split(p.fam.signatures(spark, sf_dir))
    corpus = sigs.filter(~F.col("is_suite"))
    if form == "incremental":
        corpus_pred = new
    if corpus_pred is not None:
        corpus = corpus.filter(corpus_pred)
    return p.screen(corpus.select("doc_id", *p.cols),
                    perceptual_suite_rows(sigs, family),
                    new if form == "suite_refresh" else None)


def perceptual_suite_rows(sigs: DataFrame, family: str) -> DataFrame:
    """The suite side (s_doc, *suite columns) of an is_suite-flagged
    signature frame, in the shape the family's verdict body and its
    stream's suite-state table take."""
    p = PERCEPTUAL_SCREENS[family]
    return sigs.filter("is_suite").select(
        F.col("doc_id").alias("s_doc"),
        *[c if c == a else F.col(c).alias(a)
          for c, a in zip(p.cols, p.suite_cols)])


def _perceptual_fl(p: PerceptualScreen, tag: str = "") -> str:
    """DuckDB: the family's signature CTEs, then ``fl{tag}`` — its
    signature rows flagged with the key_hash suite membership."""
    return f"""{p.fam.ctes.strip()},
fl{tag} AS (
  SELECT doc_id, {", ".join(p.cols)},
         {key_hash('doc_id')} < {BENCH_RATE} AS is_suite
  FROM {p.fam.src})"""


def _perceptual_matched(p: PerceptualScreen, tag: str = "",
                        new: str = "") -> str:
    """DuckDB: the ``bands{tag}``, ``cand{tag}`` and ``matched{tag}``
    CTEs over ``fl{tag}`` (_perceptual_fl). cand is each corpus asset's
    (doc_id, s_doc) suite candidates under the contiguous banding (the
    verified-pair oracle convention, see banding.py: hits are identical
    under any exact banding), restricted to corpus assets meeting
    ``new`` when given. matched carries each candidate pair's minimum
    aligned-hash hamming and its count of in-gate aligned hashes
    (frames_matched); a pair is a hit when that count reaches the
    family's min_frames."""
    f = p.fam
    on_keys = "".join(f"s.{k} = c.{k} AND " for k in f.keys)
    y_keys = "".join(f" AND y.{k} = x.{k}" for k in f.keys)
    ham = H.hamming(f"x.{f.sig}", f"y.{f.sig}", "duck")
    band_rows = band_rows_sql(f"fl{tag}", f.sig, ORACLE_BANDS56,
                              ["doc_id", *f.keys, "is_suite"])
    return f"""bands{tag} AS ({band_rows}),
cand{tag} AS (
  SELECT DISTINCT c.doc_id, s.doc_id AS s_doc
  FROM bands{tag} c JOIN bands{tag} s
    ON {on_keys}s.band_idx = c.band_idx AND s.band_val = c.band_val
   AND s.is_suite AND NOT c.is_suite {f"AND c.{new}" if new else ""}),
matched{tag} AS (
  SELECT cd.doc_id, cd.s_doc, MIN({ham}) AS hamming,
         CAST(SUM(CASE WHEN {ham} <= {f.hamming_max} THEN 1 ELSE 0 END)
              AS BIGINT) AS frames_matched
  FROM cand{tag} cd
  JOIN fl{tag} x ON x.doc_id = cd.doc_id
  JOIN fl{tag} y ON y.doc_id = cd.s_doc{y_keys}
  GROUP BY cd.doc_id, cd.s_doc)"""


def perceptual_screen_oracle(family: str, form: str) -> str:
    """DuckDB oracle of a perceptual family's form, composed from the
    spec's SQL and never from the Spark body: the candidate pairs and
    their aligned-hash gate (_perceptual_matched), then one hits ->
    verdict tail for every family."""
    p = PERCEPTUAL_SCREENS[family]
    f = p.fam
    score, agg, no_hit = p.score
    new = f.ingest
    inc = form == "incremental"
    refresh = form == "suite_refresh"
    new_hits = (f"CAST(SUM(CASE WHEN s_doc % {INCREMENTAL_MOD} >= "
                f"{INCREMENTAL_NEW} THEN 1 ELSE 0 END) AS BIGINT) "
                "AS n_hits_new_suite," if refresh else "")
    phase = f"{_phase_sql('f.' + new)}," if refresh else ""
    new_col = ("CAST(COALESCE(h.n_hits_new_suite, 0) AS BIGINT) "
               "AS n_hits_new_suite," if refresh else "")
    return f"""
WITH {_perceptual_fl(p)},
{_perceptual_matched(p, new=new if inc else "")},
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, {new_hits}
         {agg} AS {score}
  FROM matched WHERE frames_matched >= {f.min_frames}
  GROUP BY doc_id)
SELECT f.doc_id, {phase}
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, {new_col}
       CAST(COALESCE(h.{score}, {no_hit}) AS INT) AS {score},
       COALESCE(h.n_hits, 0) >= 1 AS contaminated
FROM (SELECT DISTINCT doc_id FROM fl
      WHERE NOT is_suite {f"AND {new}" if inc else ""}) f
LEFT JOIN hits h ON h.doc_id = f.doc_id
ORDER BY f.doc_id
"""


# the docstring-only decontaminate_{phash,afp,vfp}* definitions below:
# body _perceptual_screen, oracle perceptual_screen_oracle
_perceptual_entry = _screen_entry(
    (QUERIES, ORACLES), PERCEPTUAL_SCREENS, perceptual_screen_oracle,
    _perceptual_screen)


@_perceptual_entry
def decontaminate_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual decontamination — the screen family completed across
    modalities: eval suites increasingly contain
    IMAGES, and a re-encoded/resized suite asset shares no bytes with
    its source (every exact screen passes it) while its perceptual hash
    stays within a few bits — the pixel-side analog of the paraphrase
    the embedding screen catches. Per corpus asset: n_hits = suite
    assets within hamming <= 3 of its 56-bit dHash,
    min_hamming (the reviewer's rank score — 0 is a byte-respin, 3 is
    the gate's edge; {PHASH_NO_HIT} when no suite asset hits),
    contaminated = n_hits >= 1.

    Suite membership is the SAME key_hash sample as every other screen,
    keyed on doc_id — so an entity's text, embedding, and pixel
    representations agree on whether it is held-out eval material, and
    a training pipeline unions the three screens' contaminated sets per
    entity.

    Unlike the embedding screen, this blocking needs NO recall remedy:
    with hamming_max 3 < 4 bands the
    pigeonhole guarantee makes the banded join EXACT — recall 1.0
    structurally, the property the whole banded-dedup family rests on
    (dedup.dedup_image_phash), here with the suite side broadcast so
    there is no pair space at all: one corpus signature scan, 4 band
    rows/asset against a broadcast suite band table, one roll-up.
    Signatures come from the memoized real-codec table
    (multimodal.image_phash_frame: PNG round-trip in the one Python
    stage); this query shuffles 16-byte signature rows only."""


@_perceptual_entry
def decontaminate_phash_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Delta-ingest form of the perceptual screen: only the incoming
    batch (doc_id % 4 == 1, the phash family's ingest convention —
    the LATER member of each designed re-encode pair, so the screen is
    exercised across the batch boundary) is screened against the suite
    signature artifact. Per-ingest cost O(batch); rows identical to the
    batch screen's for incoming ids (path-equivalence pytest)."""


@_perceptual_entry
def decontaminate_phash_suite_refresh(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The image screen's SECOND growth event (the embedding screen's
    suite-refresh story completed across modalities): a benchmark
    release adds suite assets after the corpus snapshot. Both events in
    one phase-labeled output — ingest rows (the family's doc_id % 4
    convention) are the incoming batch against the full suite, backfill
    rows are the existing corpus, whose deployment bill is only the
    NEW-RELEASE members (n_hits decomposes exactly; the persisted
    verdict supplies the old counts). Same pigeonhole-exact banded
    broadcast join; the release stand-in is the corpus-wide
    {INCREMENTAL_MOD}/{INCREMENTAL_NEW} convention on suite ids."""


@_perceptual_entry
def decontaminate_afp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-side perceptual decontamination: corpus audio assets whose
    56-bit energy-sign fingerprint sits within hamming <=
    3 of a held-out suite asset's — a re-encoded /
    re-sampled eval clip shares no bytes with its source but keeps its
    energy profile, the audio analog of the re-encoded image
    decontaminate_phash catches. Same key_hash suite membership, same
    verdict schema, same pigeonhole-exact banded broadcast frame
    (_sig56_screen_frame — recall 1.0 structurally); signatures come
    from the memoized real WAV-round-trip table, so this query shuffles
    16-byte rows only."""


@_perceptual_entry
def decontaminate_afp_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Delta-ingest form of the audio screen (doc_id % 4 == 1, the
    perceptual families' shared ingest convention): incoming batch vs
    the suite signature artifact, O(batch) per ingest, rows identical
    to the batch screen's for incoming ids."""


@_perceptual_entry
def decontaminate_afp_suite_refresh(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The audio screen's suite-refresh form: both growth events in one
    phase-labeled output (see decontaminate_phash_suite_refresh — same
    decomposition, same release stand-in, the audio fingerprint's
    banding)."""


@_perceptual_entry
def decontaminate_vfp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-side perceptual decontamination — the screen family's last
    modality: a corpus clip is contaminated when at least min_frames
    of its frame-aligned 56-bit hashes sit within the hamming gate of a
    suite clip's (the M-of-K rule of dedup_video_fingerprint, pointed at
    a broadcast suite instead of a pair space). Per corpus clip: n_hits
    = suite clips matched under M-of-K, max_frames_matched over HITS
    ({VFP_NO_HIT} when none — hits are banding-invariant, near-miss
    candidates are not), contaminated = n_hits >= 1.

    EXACT by pigeonhole lifted through M-of-K: any hit has >= 1 in-gate
    frame, that frame shares a band with its suite counterpart, and the
    (frame_idx, band) join emits the pair — recall 1.0 structurally,
    no recall schedule. Scale shape: per-frame signature rows only
    (VFP_FRAMES x 16 bytes/clip), suite side broadcast, frame arrays
    folded clip-level before the verify (the strip-spans-style
    collapse dedup's verify uses)."""


@_perceptual_entry
def decontaminate_vfp_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Delta-ingest form of the video screen (doc_id % 4 == 1, the
    perceptual families' shared ingest convention): the incoming
    batch's frame signatures vs the suite's, O(batch) per ingest, rows
    identical to the batch screen's for incoming ids."""


@_perceptual_entry
def decontaminate_vfp_suite_refresh(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The video screen's suite-refresh form: both growth events in one
    phase-labeled output (see decontaminate_phash_suite_refresh), with
    the hit split lifted through the M-of-K rule — a matched suite CLIP
    is new iff its id falls under the corpus-wide release convention,
    so n_hits still decomposes exactly as persisted-old +
    n_hits_new_suite (clip membership is disjoint)."""


def perceptual_screen_recall_audit(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Measured recall of every perceptual screen against its EXACT
    unblocked baseline (semantic_screen_recall_audit's role for the
    pixel/audio/video families, so every screen's loss is measured).
    Per row: the production screen's flags vs an exact screen with NO
    banding (every corpus signature against every broadcast suite
    signature):

    - image / audio: the banded join is pigeonhole-EXACT by
      construction (hamming_max < n_bands); these rows measure the
      structural recall-1.0 claim instead of asserting it.
    - video_mofk: the banded per-frame join under the production
      M-of-K gate vs the exact frame-join under the SAME gate — also
      1.0 (per-frame banding is pigeonhole-exact and the gate commutes
      with it).
    - video_gate: the production M-of-K flags vs the exact ANY-frame
      (M=1) baseline — the one DESIGNED loss in the perceptual family
      (a clip sharing only 1-2 aligned frames is below the gate), now
      a measured number per corpus instead of a docstring caveat.

    The exact sides are bounded-corpus audit machinery (sampled at
    100 TB, the semantic audit's convention)."""
    def audit_row(family: str, exact_ids: DataFrame,
                  flagged: DataFrame) -> DataFrame:
        truth = exact_ids.withColumn("in_true", F.lit(1))
        n_true = truth.agg(
            F.count(F.lit(1)).cast("long").alias("n_true"))
        return (flagged.join(truth, "doc_id", "left")
                .agg(F.count(F.lit(1)).cast("long").alias("n_flagged"),
                     F.count("in_true").cast("long").alias("n_common"))
                .crossJoin(F.broadcast(n_true))
                .selectExpr(f"'{family}' AS family", "n_true",
                            "n_flagged", "n_common"))

    rows = {}
    for family, p in PERCEPTUAL_SCREENS.items():
        f = p.fam
        s = _bench_split(f.signatures(spark, sf_dir))
        flagged = (_perceptual_screen(spark, sf_dir, family)
                   .filter("contaminated").select("doc_id"))
        if f.keys:
            # aligned hashes: exact key join, gate, frames per clip pair
            suite = s.filter("is_suite").select(
                F.col("doc_id").alias("s_doc"), *f.keys,
                F.col(f.sig).alias(f"s_{f.sig}"))
            matches = (
                s.filter(~F.col("is_suite"))
                .join(F.broadcast(suite), list(f.keys))
                .filter(F.expr(H.hamming(f.sig, f"s_{f.sig}", "spark"))
                        <= f.hamming_max)
                .groupBy("doc_id", "s_doc")
                .agg(F.count(F.lit(1)).alias("frames_matched")))
            exact = {label: matches
                     .filter(F.col("frames_matched") >= min_frames)
                     .select("doc_id").distinct()
                     for label, min_frames in p.audit.items()}
        else:
            suite = s.filter("is_suite").select(
                F.col(f.sig).alias("s_sig"))
            exact = {label: s.filter(~F.col("is_suite"))
                     .crossJoin(F.broadcast(suite))
                     .filter(F.expr(H.hamming(f.sig, "s_sig", "spark"))
                             <= f.hamming_max)
                     .select("doc_id").distinct()
                     for label in p.audit}
        for label, exact_ids in exact.items():
            rows[label] = audit_row(label, exact_ids, flagged)
    return (
        functools.reduce(DataFrame.unionByName,
                         [rows[label] for label in sorted(rows)])
        .selectExpr(
            "family", "n_true", "n_flagged", "n_common",
            "n_true - n_common AS n_missed",
            "CAST(n_common AS DOUBLE)"
            " / CAST(nullif(n_true, 0) AS DOUBLE) AS recall")
        .orderBy("family")
    )


def _perceptual_recall_oracle() -> str:
    """One row per audit label: the exact unblocked baseline (every
    corpus asset against every suite asset, aligned on the family's
    keys, under its gate) against the form's own oracle flags."""
    rows = []
    for p in PERCEPTUAL_SCREENS.values():
        f = p.fam
        ham = H.hamming(f"c.{f.sig}", f"s.{f.sig}", "duck")
        keys = "".join(f" AND s.{k} = c.{k}" for k in f.keys)
        for label, min_frames in p.audit.items():
            rows.append(f"""
SELECT '{label}' AS family, n_true, n_flagged, n_common FROM (
  WITH {_perceptual_fl(p)},
  ex AS (
    SELECT DISTINCT c.doc_id
    FROM fl c JOIN fl s ON s.is_suite{keys}
    WHERE NOT c.is_suite AND {ham} <= {f.hamming_max}
    GROUP BY c.doc_id, s.doc_id HAVING COUNT(*) >= {min_frames}),
  flg AS (SELECT doc_id FROM ({ORACLES[p.forms["batch"]]}) q
          WHERE q.contaminated)
  SELECT CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_true,
         CAST((SELECT COUNT(*) FROM flg) AS BIGINT) AS n_flagged,
         CAST((SELECT COUNT(*) FROM flg JOIN ex
               ON ex.doc_id = flg.doc_id) AS BIGINT) AS n_common
) x
""")
    return f"""
SELECT family, n_true, n_flagged, n_common,
       n_true - n_common AS n_missed,
       CAST(n_common AS DOUBLE)
         / CAST(NULLIF(n_true, 0) AS DOUBLE) AS recall
FROM ({"UNION ALL".join(rows)}) u
ORDER BY family
"""


QUERIES["perceptual_screen_recall_audit"] = perceptual_screen_recall_audit
ORACLES["perceptual_screen_recall_audit"] = _perceptual_recall_oracle()


# The n-gram screen's delta-ingest and release forms sit after the
# perceptual ones: registry order is the oracle sweep's tiebreak
# (__spark_entry__._reorder).
@_lexical_entry
def decontaminate_ngram_overlap_incremental(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """Delta-ingest form of the lexical screen — the text family's
    missing two-form story (every other screen modality already has
    one): only the incoming batch (doc_id % {INCREMENTAL_MOD} >=
    {INCREMENTAL_NEW}, the corpus-wide ingest convention the semantic
    screen shares) shingles and screens against the benchmark shingle
    set, which is a FIXED broadcast artifact per benchmark release.
    Per-ingest cost O(batch); rows identical to the batch screen's for
    incoming ids (path-equivalence pytest) — the suite side never
    depends on which corpus rows arrive, so the screen is
    embarrassingly incremental."""
    return _ngram_screen(spark, sf_dir, incoming_only=True)


@_lexical_entry
def decontaminate_ngram_overlap_suite_refresh(spark: SparkSession,
                                              sf_dir: str) -> DataFrame:
    """The lexical screen's suite-refresh form — the benchmark-release
    growth event, decomposed on SHINGLES rather than suite members
    (the screen thresholds a set-overlap count, not per-member hits):
    a release's marginal contribution to a corpus doc is its overlap
    with the shingles ONLY new members carry (a shingle an old member
    already carried was already counted — bool_and over the owning
    members), so n_overlap = persisted-old + n_overlap_new_suite
    exactly, and a deployment's backfill bill is the existing corpus
    against the NEW-shingle broadcast set only. Output is the batch
    screen's row plus (phase, n_overlap_new_suite); the release
    stand-in is the corpus-wide {INCREMENTAL_MOD}/{INCREMENTAL_NEW}
    convention on suite ids (the embedding refresh's convention)."""
    sh = _bench_shingled(spark, sf_dir)
    bench_sh = (
        sh.filter("is_bench")
        .select(F.explode_outer("sh").alias("s"),
                ((F.col("doc_id") % INCREMENTAL_MOD)
                 >= INCREMENTAL_NEW).alias("m_new"))
        .filter(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.bool_and("m_new").alias("only_new")))
    return ngram_screen_frame(sh.filter(~F.col("is_bench")), bench_sh,
                              refresh=True).orderBy("doc_id")


def contamination_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The screen family's capstone: ONE per-entity exclusion verdict a
    training run consumes, unioning all five decontamination screens —
    lexical 3-gram overlap, semantic embedding (the recall-targeted
    schedule), and the three perceptual modalities (image dHash, audio
    fingerprint, video M-of-K). Every screen keys the SAME key_hash
    suite membership, so the flags line up per entity by construction;
    an entity with no embedding row keeps a NULL flagged_semantic (the
    screen had nothing to score — distinct from a clean verdict) and
    counts 0 toward n_screens_flagged. excluded = flagged anywhere —
    the column a dataset builder anti-joins on.

    Scale shape: five corpus-scan screens (each one broadcast join +
    one roll-up, all on memoized signature artifacts) joined on the
    entity key — the joins co-partition on doc_id, no pair space
    anywhere, and the manifest is exactly corpus-sized. Reads the
    session-memoized contamination_manifest_table, so repeated
    consumption within a sweep is a checkpoint read."""
    return contamination_manifest_table(spark, sf_dir)


def contamination_manifest_incremental(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Delta-ingest form of the capstone manifest: the exclusion
    verdicts a training pipeline needs PER INGEST BATCH, without
    re-screening the standing corpus. Every underlying screen is
    corpus-vs-suite with a per-entity roll-up — no corpus row ever
    interacts with another corpus row — so each screen restricts its
    corpus side to the SHARED ingest convention (doc_id %
    {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}; the manifest defines ONE
    incoming entity set across modalities, unlike the per-family
    designed-pair splits the standalone incremental screens use to
    exercise their batch boundaries) and the manifest joins the five
    O(batch) verdicts. Rows are identical to the batch manifest's for
    incoming ids (path-equivalence pytest), and the oracle composes as
    exactly that restriction."""
    return _contamination_manifest(spark, sf_dir, incoming_only=True)


def contamination_manifest_table(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Materialize-once five-screen manifest — the fourth handoff
    artifact after the pair, label, and curation tables:
    contamination_manifest, contamination_closure,
    manifest_coverage_census, and training_set_manifest all fold the
    SAME materialized verdicts, so the five screens' verify joins run
    once per (session, dataset) instead of once per consumer (measured
    ~4 s/extra consumer at sf0.1 — the screens' hamming/cosine verifies
    are live compute even with memoized signatures)."""
    def build() -> DataFrame:
        return _contamination_manifest(
            spark, sf_dir, incoming_only=False).transform(cut_lineage)
    return session_memo(spark, ("contamination_manifest", sf_dir), build)


def _contamination_manifest(spark: SparkSession, sf_dir: str,
                            incoming_only: bool) -> DataFrame:
    """Shared body of the manifest's batch and delta-ingest forms."""
    pred = ((F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW
            if incoming_only else None)
    text = _ngram_screen(spark, sf_dir, incoming_only).select(
        "doc_id", F.col("contaminated").alias("flagged_text"))
    sem_fn = (decontaminate_embedding_recallk_incremental if incoming_only
              else decontaminate_embedding_recallk)
    sem = sem_fn(spark, sf_dir).selectExpr(
        "vec_id AS doc_id", "contaminated AS flagged_semantic")
    img, aud, vid = (
        _perceptual_screen(spark, sf_dir, family, corpus_pred=pred).select(
            "doc_id", F.col("contaminated").alias(f"flagged_{flag}"))
        for family, flag in (("phash", "image"), ("afp", "audio"),
                             ("vfp", "video")))
    # the delta-ingest form's five verdict frames are O(batch) by
    # construction (every screen restricts its corpus side to the
    # incoming slice — the same bound the screens' own broadcast joins
    # rely on), so the assembly broadcasts them instead of paying four
    # SortMergeJoins' exchange+sort per frame (guide §3.1). The batch
    # form keeps the co-partitioned SMJ: its frames are corpus-sized.
    return _manifest_assemble(text, sem, img, aud, vid,
                              broadcast_small=incoming_only)


def _manifest_assemble(text: DataFrame, sem: DataFrame, img: DataFrame,
                       aud: DataFrame, vid: DataFrame,
                       broadcast_small: bool = False) -> DataFrame:
    """Fold five per-screen flag frames (doc_id, flagged_*) into the
    manifest verdict. Shared by the batch/incremental operators AND the
    streaming-deployment assembly (the five screens' persisted verdict
    tables folded the same way — one code path, so a streamed manifest
    can't drift from the batch one). broadcast_small hints the four
    right sides as broadcast relations — pass it ONLY when the frames
    are batch-bounded (the delta-ingest form), never for corpus-sized
    verdict frames."""
    flags = ["flagged_text", "flagged_semantic", "flagged_image",
             "flagged_audio", "flagged_video"]
    n = " + ".join(
        f"CASE WHEN COALESCE({c}, false) THEN 1 ELSE 0 END"
        for c in flags)
    b = F.broadcast if broadcast_small else (lambda df: df)
    return (
        text.join(b(sem), "doc_id", "left")
        .join(b(img), "doc_id", "left")
        .join(b(aud), "doc_id", "left")
        .join(b(vid), "doc_id", "left")
        .selectExpr(
            "doc_id", *flags,
            f"CAST({n} AS BIGINT) AS n_screens_flagged",
            f"({n}) >= 1 AS excluded")
        .orderBy("doc_id")
    )


def _contamination_manifest_oracle(incoming_only: bool = False) -> str:
    """Composes the five screens' own oracle SQLs as subqueries (DuckDB
    allows a WITH inside a parenthesized subquery), so the manifest
    oracle can never drift from the per-screen oracles it unions. The
    delta-ingest form restricts the composed output by the shared
    ingest predicate on the driving entity id — equivalent to
    restricting every screen's corpus side (no corpus row interacts
    with another, and the joins key the same id), which is what the
    Spark side does for O(batch) cost."""
    flags = ["flagged_text", "flagged_semantic", "flagged_image",
             "flagged_audio", "flagged_video"]
    n = " + ".join(
        f"CASE WHEN COALESCE({c}, false) THEN 1 ELSE 0 END"
        for c in flags)
    inc = (f"WHERE t.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}"
           if incoming_only else "")
    return f"""
SELECT t.doc_id,
       t.contaminated AS flagged_text,
       s.contaminated AS flagged_semantic,
       i.contaminated AS flagged_image,
       a.contaminated AS flagged_audio,
       v.contaminated AS flagged_video,
       CAST({n} AS BIGINT) AS n_screens_flagged,
       ({n}) >= 1 AS excluded
FROM ({ORACLES["decontaminate_ngram_overlap"]}) t
LEFT JOIN ({ORACLES["decontaminate_embedding_recallk"]}) s
  ON s.vec_id = t.doc_id
LEFT JOIN ({ORACLES["decontaminate_phash"]}) i ON i.doc_id = t.doc_id
LEFT JOIN ({ORACLES["decontaminate_afp"]}) a ON a.doc_id = t.doc_id
LEFT JOIN ({ORACLES["decontaminate_vfp"]}) v ON v.doc_id = t.doc_id
{inc}
ORDER BY t.doc_id
"""


QUERIES["contamination_manifest"] = contamination_manifest
ORACLES["contamination_manifest"] = _contamination_manifest_oracle()
QUERIES["contamination_manifest_incremental"] = \
    contamination_manifest_incremental
ORACLES["contamination_manifest_incremental"] = \
    _contamination_manifest_oracle(True)


def contamination_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion CLOSURE over the near-duplicate graph — the step a
    training pipeline must run AFTER the manifest: a near-dup of a
    contaminated document carries the same eval content whether or not
    its own representations tripped a screen (the dup relation is a
    cheaper, earlier detector of the same sharing), so exclusion
    propagates through duplicate clusters. Per corpus entity:
    excluded_direct (the manifest verdict), excluded_via_dup (some
    OTHER member of its n-gram Jaccard cluster is directly excluded —
    self-exclusion subtracted, so the two columns decompose the final
    verdict exactly), excluded = either.

    Scale shape: the manifest is corpus-sized; the cluster-label
    artifact (memoized _cc_label_table) is O(duplicated docs); one
    doc_id equi-join, one cluster-sized aggregate, one label join back
    — no pair space, no new iteration (the CC loop ran once per session
    for the dedup family already)."""
    return _closure_frame(spark, sf_dir, incoming_only=False)


def contamination_closure_incremental(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Delta-ingest form of the exclusion closure: verdicts for the
    incoming batch only (the shared {INCREMENTAL_MOD}/{INCREMENTAL_NEW}
    convention), row-identical to the batch closure for those ids
    (path-equivalence pytest). The cluster-exclusion counts are
    corpus-wide BY DESIGN — in a deployment they are the persisted
    per-cluster artifact the dedup pipeline maintains; here both sides
    are reads of session-memoized artifacts (the five-screen manifest
    checkpoint + the CC label table), recomputed in the same plan so
    both forms share one body — so per-ingest cost is the cluster-agg
    fold plus an O(batch) join, never a re-screen."""
    return _closure_frame(spark, sf_dir, incoming_only=True)


def _closure_frame(spark: SparkSession, sf_dir: str,
                   incoming_only: bool) -> DataFrame:
    """Shared body of the closure's batch and delta-ingest forms."""
    man = contamination_manifest_table(spark, sf_dir) \
        .select("doc_id", F.col("excluded").alias("excluded_direct"))
    labels = _cc_label_table(spark, sf_dir)
    lab = man.join(labels, "doc_id", "left")
    cl = (lab.filter(F.col("label").isNotNull())
          .groupBy("label")
          .agg(F.sum(F.when(F.col("excluded_direct"), 1).otherwise(0))
               .alias("n_ex")))
    drive = lab
    if incoming_only:
        drive = drive.filter(
            (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    return (
        drive.join(cl, "label", "left")
        .selectExpr(
            "doc_id",
            "excluded_direct",
            "COALESCE(n_ex, 0) - CASE WHEN excluded_direct THEN 1"
            " ELSE 0 END >= 1 AS excluded_via_dup",
            "excluded_direct OR (COALESCE(n_ex, 0) - CASE WHEN"
            " excluded_direct THEN 1 ELSE 0 END >= 1) AS excluded")
        .orderBy("doc_id")
    )


def _contamination_closure_oracle(incoming_only: bool = False) -> str:
    """Composes the manifest oracle and the connected-components oracle
    as subqueries, so the closure can't drift from either. The
    delta-ingest form restricts the DRIVING side only — the cluster
    counts stay corpus-wide, matching the persisted-artifact
    semantics."""
    inc = (f"WHERE l.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}"
           if incoming_only else "")
    return f"""
WITH man AS (
  SELECT doc_id, excluded AS excluded_direct
  FROM ({_contamination_manifest_oracle()}) m),
cc AS (
  SELECT doc_id, component_id FROM ({CONNECTED_COMPONENTS_SQL}) c),
lab AS (
  SELECT man.doc_id, man.excluded_direct, cc.component_id
  FROM man LEFT JOIN cc ON cc.doc_id = man.doc_id),
cl AS (
  SELECT component_id,
         SUM(CASE WHEN excluded_direct THEN 1 ELSE 0 END) AS n_ex
  FROM lab WHERE component_id IS NOT NULL
  GROUP BY component_id)
SELECT l.doc_id, l.excluded_direct,
       COALESCE(cl.n_ex, 0) - CASE WHEN l.excluded_direct THEN 1
         ELSE 0 END >= 1 AS excluded_via_dup,
       l.excluded_direct OR (COALESCE(cl.n_ex, 0) - CASE WHEN
         l.excluded_direct THEN 1 ELSE 0 END >= 1) AS excluded
FROM lab l LEFT JOIN cl ON cl.component_id = l.component_id
{inc}
ORDER BY l.doc_id
"""


QUERIES["contamination_closure"] = contamination_closure
ORACLES["contamination_closure"] = _contamination_closure_oracle()
QUERIES["contamination_closure_incremental"] = \
    contamination_closure_incremental
ORACLES["contamination_closure_incremental"] = \
    _contamination_closure_oracle(True)


def suite_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE attribution across all five screens: per SUITE entity,
    how many corpus entities its material leaked into, by modality —
    the report an eval maintainer reads ('which benchmark items are
    burned and need rotating') where the manifest answers the dataset
    builder's question ('which corpus rows to drop'). Per suite entity:
    n_text_hits (corpus docs sharing >= {CONTAMINATION_MIN_SHINGLES}
    DISTINCT shingles with THIS member — pairwise, stricter than the
    union screen by design: attribution needs a responsible member),
    n_semantic_hits (cosine hits under the deployable recallk
    schedule), n_image/n_audio/n_video_hits (perceptual-gate hits), and
    n_total_hits. Zero everywhere = the member is unburned.

    Scale shape: every term is the corresponding screen's own join with
    the roll-up flipped to the suite side — broadcast suite, one corpus
    scan per modality, counts only, no pair materialization beyond the
    screens' own candidate sets."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    is_b = F.expr(key_hash("doc_id")) < BENCH_RATE
    suite_ids = docs.filter(is_b).select(F.col("doc_id").alias("s_doc"))

    # the memoized shingle artifact: both attribution branches
    # (corpus + suite) read it instead of re-tokenizing the corpus.
    sh = _bench_shingled(spark, sf_dir)
    c_sh = (sh.filter(~F.col("is_bench"))
            .select("doc_id", F.explode_outer("sh").alias("s"))
            .filter(F.col("s").isNotNull()).distinct())
    s_sh = (sh.filter("is_bench")
            .select(F.col("doc_id").alias("s_doc"),
                    F.explode_outer("sh").alias("s"))
            .filter(F.col("s").isNotNull()).distinct())
    text_hits = (
        c_sh.join(F.broadcast(s_sh), "s")
        .groupBy("doc_id", "s_doc")
        .agg(F.count(F.lit(1)).alias("ov"))
        .filter(F.col("ov") >= CONTAMINATION_MIN_SHINGLES)
        .groupBy("s_doc")
        .agg(F.countDistinct("doc_id").alias("n_text_hits")))

    n = _suite_flagged_embeddings(spark, sf_dir)
    cents = _full_centroid_arrays(spark, sf_dir)
    ranks = _suite_probe_expansion(n.filter("is_suite"), cents,
                                   SEMANTIC_PROBE_K, keep_id=True)
    sem_hits = (
        fan_out(n.filter(~F.col("is_suite")))   # as the topk schedule
        .join(F.broadcast(ranks), F.col("label") == F.col("s_label"))
        .select("vec_id", "s_vec",
                (F.expr(_SV_DOT) / (F.col("nrm") * F.col("snrm")))
                .alias("cosine"))
        .filter(F.col("cosine") >= SEMANTIC_COSINE_THRESHOLD)
        .groupBy(F.col("s_vec").alias("s_doc"))
        .agg(F.countDistinct("vec_id").alias("n_semantic_hits")))

    def screen_hits(family: str, p: PerceptualScreen,
                    out: str) -> DataFrame:
        f = p.fam
        sigs = _bench_split(f.signatures(spark, sf_dir))
        corpus = sigs.filter(~F.col("is_suite"))
        if f.keys:
            _, hits = _vfp_matched_clips(corpus.select("doc_id", *p.cols),
                                         perceptual_suite_rows(sigs, family))
        else:
            hits = _sig56_scored(
                corpus.select("doc_id", F.col(f.sig).alias("sig")),
                sigs.filter("is_suite")
                .select(F.col("doc_id").alias("s_doc"),
                        F.col(f.sig).alias("s_sig")),
                f.layout.n_bands).filter(F.col("hamming") <= f.hamming_max)
        return hits.groupBy("s_doc").agg(
            F.countDistinct("doc_id").alias(out))

    media = {f"n_{_perceptual_modality(p)}_hits": (k, p)
             for k, p in PERCEPTUAL_SCREENS.items()}
    hits = [text_hits, sem_hits,
            *(screen_hits(k, p, out) for out, (k, p) in media.items())]
    cols = ["n_text_hits", "n_semantic_hits", *media]
    return (
        functools.reduce(lambda acc, h: acc.join(h, "s_doc", "left"),
                         hits, suite_ids)
        .selectExpr(
            "s_doc",
            *[f"CAST(COALESCE({c}, 0) AS BIGINT) AS {c}" for c in cols],
            f"CAST({' + '.join(f'COALESCE({c}, 0)' for c in cols)}"
            " AS BIGINT) AS n_total_hits")
        .orderBy("s_doc")
    )


def _perceptual_modality(p: PerceptualScreen) -> str:
    """The screen's modality label (image, audio, video): its family's."""
    return next(_modality(k) for k, f in BANDED_FAMILIES.items()
                if f is p.fam)


def _suite_leakage_oracle() -> str:
    media = [(_perceptual_modality(p), f"_{key}", p)
             for key, p in PERCEPTUAL_SCREENS.items()]
    media_ctes = "".join(f"""{_perceptual_fl(p, tag)},
{_perceptual_matched(p, tag)},
{m}_hits AS (
  SELECT s_doc, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_{m}_hits
  FROM matched{tag} WHERE frames_matched >= {p.fam.min_frames}
  GROUP BY s_doc),
""" for m, tag, p in media)
    kinds = ["text", "semantic", *(m for m, _, _ in media)]
    counts = [f"COALESCE(h_{k}.n_{k}_hits, 0)" for k in kinds]
    per_kind = "".join(f"CAST({c} AS BIGINT) AS n_{k}_hits,\n       "
                       for k, c in zip(kinds, counts))
    joins = "".join(f"LEFT JOIN {k}_hits h_{k} ON h_{k}.s_doc = su.s_doc\n"
                    for k in kinds)
    return f"""
WITH {H.shingle_ctes(is_bench=f"{key_hash('doc_id')} < {BENCH_RATE}")},
c_sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shl WHERE NOT is_bench),
s_sh AS (SELECT DISTINCT doc_id AS s_doc, unnest(sh) AS s
         FROM shl WHERE is_bench),
tp AS (
  SELECT c.doc_id, s.s_doc, COUNT(*) AS ov
  FROM c_sh c JOIN s_sh s ON c.s = s.s
  GROUP BY c.doc_id, s.s_doc),
text_hits AS (
  SELECT s_doc, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_text_hits
  FROM tp WHERE ov >= {CONTAMINATION_MIN_SHINGLES} GROUP BY s_doc),
{_semantic_ctes("topk")},
sem_pairs AS (
  SELECT c.vec_id, s.vec_id AS s_vec,
         {H.cosine_sql('c', 's')} AS cosine
  FROM {SEMANTIC_SCHEDULES["topk"].join}
  WHERE NOT c.is_suite),
semantic_hits AS (
  SELECT s_vec AS s_doc,
         CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_semantic_hits
  FROM sem_pairs WHERE cosine >= {SEMANTIC_COSINE_THRESHOLD}
  GROUP BY s_vec),
{media_ctes}suite AS (
  SELECT doc_id AS s_doc FROM documents
  WHERE {key_hash('doc_id')} < {BENCH_RATE})
SELECT su.s_doc,
       {per_kind}CAST({" + ".join(counts)} AS BIGINT) AS n_total_hits
FROM suite su
{joins}ORDER BY su.s_doc
"""


QUERIES["suite_leakage_report"] = suite_leakage_report
ORACLES["suite_leakage_report"] = _suite_leakage_oracle()


_MANIFEST_SCREENS = [("text", "flagged_text"),
                     ("semantic", "flagged_semantic"),
                     ("image", "flagged_image"),
                     ("audio", "flagged_audio"),
                     ("video", "flagged_video")]


def manifest_coverage_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Coverage census of the contamination manifest — the audit a
    dataset builder runs BEFORE trusting the exclusion set: per screen,
    how many corpus entities it actually SCORED (had that modality's
    representation), how many it could NOT see (NULL flag — absence of
    evidence, the manifest's deliberate distinction from a clean
    verdict), and how many it flagged. A screen with n_missing drifting
    up is silently going blind on part of the corpus — the census makes
    that a number instead of a surprise. One manifest pass, one
    5-row-per-entity-free aggregate (conditional sums then a stack —
    no unpivot shuffle)."""
    man = contamination_manifest_table(spark, sf_dir)
    aggs = []
    for name, col in _MANIFEST_SCREENS:
        aggs += [
            F.sum(F.when(F.col(col).isNotNull(), 1).otherwise(0))
            .cast("long").alias(f"sc_{name}"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long").alias(f"mi_{name}"),
            F.sum(F.when(F.coalesce(F.col(col), F.lit(False)), 1)
                  .otherwise(0)).cast("long").alias(f"fl_{name}"),
        ]
    stack = ", ".join(
        f"'{name}', sc_{name}, mi_{name}, fl_{name}"
        for name, _ in _MANIFEST_SCREENS)
    return (
        man.agg(*aggs)
        .selectExpr(f"stack({len(_MANIFEST_SCREENS)}, {stack}) AS "
                    "(screen, n_scored, n_missing, n_flagged)")
        .orderBy("screen")
    )


def _manifest_coverage_oracle() -> str:
    parts = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS screen,\n"
        f"  CAST(SUM(CASE WHEN {col} IS NOT NULL THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_scored,\n"
        f"  CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_missing,\n"
        f"  CAST(SUM(CASE WHEN COALESCE({col}, false) THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_flagged\n"
        "FROM man"
        for name, col in _MANIFEST_SCREENS)
    return f"""
WITH man AS (SELECT * FROM ({_contamination_manifest_oracle()}) m)
{parts}
ORDER BY screen
"""


QUERIES["manifest_coverage_census"] = manifest_coverage_census
ORACLES["manifest_coverage_census"] = _manifest_coverage_oracle()


def screen_agreement_matrix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Pairwise agreement between the five screens — the audit that
    prices each screen's MARGINAL value: n_only_a is what screen A
    catches that screen B misses (dropping A costs exactly its
    n_only_a against the union of the others, computable from these
    rows), and a pair with jaccard near 1 is redundant instrumentation.
    One ordered row per screen pair (a < b): both-flagged, A-only,
    B-only counts over entities BOTH screens scored (NULL flags are
    absence of evidence — the census's distinction — so they are
    excluded from agreement, not counted as clean), plus the flag-set
    Jaccard ({_NO_CANDIDATE} when both flag sets are empty on the
    co-scored domain).

    Scale shape: one pass over the memoized manifest checkpoint, 10
    conditional-sum triples folded map-side, a 10-row stack — the
    census's shape widened to pairs."""
    man = contamination_manifest_table(spark, sf_dir)
    pairs = [(a, ca, b, cb)
             for i, (a, ca) in enumerate(_MANIFEST_SCREENS)
             for b, cb in _MANIFEST_SCREENS[i + 1:]]
    aggs = []
    for a, ca, b, cb in pairs:
        both_scored = F.col(ca).isNotNull() & F.col(cb).isNotNull()
        aggs += [
            F.sum(F.when(both_scored & F.col(ca) & F.col(cb), 1)
                  .otherwise(0)).cast("long").alias(f"both_{a}_{b}"),
            F.sum(F.when(both_scored & F.col(ca) & ~F.col(cb), 1)
                  .otherwise(0)).cast("long").alias(f"onlya_{a}_{b}"),
            F.sum(F.when(both_scored & ~F.col(ca) & F.col(cb), 1)
                  .otherwise(0)).cast("long").alias(f"onlyb_{a}_{b}"),
        ]
    stack = ", ".join(
        f"'{a}', '{b}', both_{a}_{b}, onlya_{a}_{b}, onlyb_{a}_{b}"
        for a, _, b, _ in pairs)
    return (
        man.agg(*aggs)
        .selectExpr(
            f"stack({len(pairs)}, {stack}) AS "
            "(screen_a, screen_b, n_both, n_only_a, n_only_b)")
        .selectExpr(
            "screen_a", "screen_b", "n_both", "n_only_a", "n_only_b",
            "CASE WHEN n_both + n_only_a + n_only_b = 0"
            f" THEN CAST({_NO_CANDIDATE} AS DOUBLE)"
            " ELSE CAST(n_both AS DOUBLE)"
            " / CAST(n_both + n_only_a + n_only_b AS DOUBLE)"
            " END AS jaccard")
        .orderBy("screen_a", "screen_b")
    )


def _screen_agreement_oracle() -> str:
    pairs = [(a, ca, b, cb)
             for i, (a, ca) in enumerate(_MANIFEST_SCREENS)
             for b, cb in _MANIFEST_SCREENS[i + 1:]]
    parts = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS screen_a, '{b}' AS screen_b,\n"
        f"  CAST(SUM(CASE WHEN {ca} IS NOT NULL AND {cb} IS NOT NULL"
        f" AND {ca} AND {cb} THEN 1 ELSE 0 END) AS BIGINT) AS n_both,\n"
        f"  CAST(SUM(CASE WHEN {ca} IS NOT NULL AND {cb} IS NOT NULL"
        f" AND {ca} AND NOT {cb} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_only_a,\n"
        f"  CAST(SUM(CASE WHEN {ca} IS NOT NULL AND {cb} IS NOT NULL"
        f" AND NOT {ca} AND {cb} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_only_b\n"
        "FROM man"
        for a, ca, b, cb in pairs)
    return f"""
WITH man AS (SELECT * FROM ({_contamination_manifest_oracle()}) m),
cells AS (
{parts})
SELECT screen_a, screen_b, n_both, n_only_a, n_only_b,
       CASE WHEN n_both + n_only_a + n_only_b = 0
            THEN CAST({_NO_CANDIDATE} AS DOUBLE)
            ELSE CAST(n_both AS DOUBLE)
                 / CAST(n_both + n_only_a + n_only_b AS DOUBLE)
       END AS jaccard
FROM cells
ORDER BY screen_a, screen_b
"""


QUERIES["screen_agreement_matrix"] = screen_agreement_matrix
ORACLES["screen_agreement_matrix"] = _screen_agreement_oracle()


def training_set_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation verdict a multimodal training run materializes —
    clean_corpus_manifest's fixed precedence (benchmark > contaminated >
    duplicate > quality) with the contamination gate upgraded from the
    lexical screen alone to the full CLOSURE: all five screens unioned
    per entity (contamination_manifest) and propagated through
    near-dup clusters (contamination_closure). The two attribution
    columns keep the drop reviewable: contaminated_direct (a screen
    fired on this entity's own representations) vs contaminated_via_dup
    (only its duplicate carries eval material). Diffing against
    clean_corpus_manifest isolates exactly what the four extra screens
    plus the closure add to the drop set.

    Scale shape: the closure (corpus-sized, memoized screen + label
    artifacts) plus the same three doc_id left joins as the base
    manifest — no new shuffle class. Session-memoized (the
    manifest_table convention): training_funnel_report folds the SAME
    materialized verdicts instead of re-running the joins."""
    def build() -> DataFrame:
        return _training_set_manifest_build(spark, sf_dir) \
            .transform(cut_lineage)
    return session_memo(spark, ("training_manifest", sf_dir), build)


def _training_set_manifest_build(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    clo = contamination_closure(spark, sf_dir).select(
        "doc_id",
        F.col("excluded_direct").alias("contaminated_direct"),
        F.col("excluded_via_dup").alias("contaminated_via_dup"),
        F.col("excluded").alias("closure_excluded"))
    dups = dedup_connected_components(spark, sf_dir)
    qual = quality_filter_verdicts(spark, sf_dir) \
        .select("doc_id", "verdict")
    m = (docs
         .withColumn("is_bench", F.expr(key_hash("doc_id")) < BENCH_RATE)
         .join(clo, "doc_id", "left")
         .join(dups, "doc_id", "left")
         .join(qual, "doc_id", "left"))
    reason = (
        F.when(F.col("is_bench"), F.lit("benchmark"))
        .when(F.coalesce("closure_excluded", F.lit(False)),
              F.lit("contaminated"))
        .when(F.col("component_id").isNotNull()
              & (F.col("component_id") != F.col("doc_id")),
              F.lit("duplicate"))
        .when(F.coalesce(F.col("verdict"), F.lit("too_short"))
              != "keep",
              F.coalesce(F.col("verdict"), F.lit("too_short")))
        .otherwise(F.lit("keep"))
    )
    return (
        m.select(
            "doc_id", reason.alias("reason"),
            F.coalesce("contaminated_direct", F.lit(False))
            .alias("contaminated_direct"),
            F.coalesce("contaminated_via_dup", F.lit(False))
            .alias("contaminated_via_dup"))
        .withColumn("keep", F.col("reason") == "keep")
        .select("doc_id", "reason", "keep",
                "contaminated_direct", "contaminated_via_dup")
        .orderBy("doc_id")
    )


TRAINING_SET_MANIFEST_SQL = f"""
WITH q AS (SELECT doc_id, verdict FROM ({QUALITY_FILTER_SQL}) x),
comp AS (SELECT doc_id, component_id
         FROM ({CONNECTED_COMPONENTS_SQL}) x),
clo AS (SELECT doc_id, excluded_direct, excluded_via_dup, excluded
        FROM ({_contamination_closure_oracle()}) x),
reasons AS (
  SELECT d.doc_id,
         CASE WHEN {key_hash('d.doc_id')} < {BENCH_RATE} THEN 'benchmark'
              WHEN COALESCE(clo.excluded, FALSE) THEN 'contaminated'
              WHEN comp.component_id IS NOT NULL
                   AND comp.component_id != d.doc_id THEN 'duplicate'
              WHEN COALESCE(q.verdict, 'too_short') != 'keep'
                   THEN COALESCE(q.verdict, 'too_short')
              ELSE 'keep' END AS reason,
         COALESCE(clo.excluded_direct, FALSE) AS contaminated_direct,
         COALESCE(clo.excluded_via_dup, FALSE) AS contaminated_via_dup
  FROM documents d
  LEFT JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN comp ON comp.doc_id = d.doc_id
  LEFT JOIN clo ON clo.doc_id = d.doc_id)
SELECT doc_id, reason, reason = 'keep' AS keep,
       contaminated_direct, contaminated_via_dup
FROM reasons
ORDER BY doc_id
"""


QUERIES["training_set_manifest"] = training_set_manifest
ORACLES["training_set_manifest"] = TRAINING_SET_MANIFEST_SQL


def training_funnel_report(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """curation_funnel_report over the five-screen-closure manifest:
    the same exact stage arithmetic (first-failing-gate attribution
    makes the funnel decompose), with the decontamination stage now
    counting what ALL five screens plus the dup-closure drop. Diffing
    the two funnels' decontamination rows prices the multimodal
    screens' marginal drop in documents AND tokens — the number a
    curator cites when deciding whether the extra screens pay for
    their compute. Shared body (_funnel_frame) and shared stage table,
    so the funnels can't drift structurally."""
    return _funnel_frame(spark, sf_dir,
                         training_set_manifest(spark, sf_dir))


QUERIES["training_funnel_report"] = training_funnel_report
ORACLES["training_funnel_report"] = _funnel_oracle(
    TRAINING_SET_MANIFEST_SQL)


def contamination_by_source(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Contamination rates broken down by PROVENANCE — the triage view
    when the manifest's totals move: which ingest source is shipping
    eval material, and through which modality. Per source: corpus
    size, per-screen flag counts, entities excluded by the manifest,
    and entities excluded by the closure (>= the manifest count — the
    delta is dup-propagated exclusion, typically concentrated in
    crawl-like sources that mirror each other). One row per source.

    Scale shape: the memoized manifest/closure artifacts joined to a
    two-column provenance projection on doc_id, then a key-space-sized
    aggregation — no new scan of any screen."""
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    man = contamination_manifest_table(spark, sf_dir)
    clo = _closure_frame(spark, sf_dir, incoming_only=False) \
        .select("doc_id", F.col("excluded").alias("excluded_closure"))
    flags = [c for _, c in _MANIFEST_SCREENS]
    return (
        man.join(clo, "doc_id")
        .join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             *[F.sum(F.when(F.coalesce(F.col(c), F.lit(False)), 1)
                     .otherwise(0)).cast("long").alias(f"n_{c}")
               for c in flags],
             F.sum(F.when(F.col("excluded"), 1).otherwise(0))
             .cast("long").alias("n_excluded"),
             F.sum(F.when(F.col("excluded_closure"), 1).otherwise(0))
             .cast("long").alias("n_excluded_closure"))
        .orderBy("source")
    )


def _contamination_by_source_oracle() -> str:
    flags = [c for _, c in _MANIFEST_SCREENS]
    flag_sums = ",\n       ".join(
        f"CAST(SUM(CASE WHEN COALESCE(m.{c}, false) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{c}" for c in flags)
    return f"""
WITH man AS (SELECT * FROM ({_contamination_manifest_oracle()}) x),
clo AS (SELECT doc_id, excluded AS excluded_closure
        FROM ({_contamination_closure_oracle()}) x)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {flag_sums},
       CAST(SUM(CASE WHEN m.excluded THEN 1 ELSE 0 END) AS BIGINT)
         AS n_excluded,
       CAST(SUM(CASE WHEN clo.excluded_closure THEN 1 ELSE 0 END)
            AS BIGINT) AS n_excluded_closure
FROM man m
JOIN clo ON clo.doc_id = m.doc_id
JOIN documents d ON d.doc_id = m.doc_id
GROUP BY d.source
ORDER BY d.source
"""


QUERIES["contamination_by_source"] = contamination_by_source
ORACLES["contamination_by_source"] = _contamination_by_source_oracle()


def contamination_manifest_diff(spark: SparkSession, sf_dir: str,
                                prior: "DataFrame | None" = None
                                ) -> DataFrame:
    """What a SUITE RELEASE changed in the manifest — the report a
    training pipeline reads when a benchmark ships new members: which
    entities' exclusion verdicts moved, keyed by release. The
    PRIOR-release manifest is reconstructed exactly from the five
    screens' suite-refresh decompositions (each screen's
    refresh form splits its hit count into persisted-old +
    new-release members, and membership is disjoint, so
    old = total - new is the prior screen's verdict bit-for-bit —
    no second screening pass); the CURRENT manifest is the memoized
    artifact. The two versions diff through keyed_diff
    (operators/maintenance.py — the engine's CDF primitive, cited to
    the reference's downstream-sync need), flattened to the columns a
    reviewer ranks by. Hits only ever GROW with suite members, so
    every row is an 'update' with n_screens_current >=
    n_screens_prior — the pytest pins the monotonicity.

    Scale shape: five refresh screens (each the batch screen's plan
    plus a conditional aggregate column), two manifest-sized frames,
    ONE full-outer doc_id join (keyed_diff), output O(changes).

    ``prior``: a deployment persists each
    release's manifest (the training_set_manifest memo convention), so
    the prior side is a TABLE READ, not a reconstruction — pass it
    here and the five refresh screens never run; the diff is one scan
    per side plus the keyed_diff join. The reconstruction default
    stays for the self-contained registry form (and IS the prior's
    definition — the pytest pins that a materialized prior yields
    row-identical diffs). Measured both ways in SCALING.md."""
    from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
        keyed_diff,
    )
    if prior is not None:
        cur = contamination_manifest_table(spark, sf_dir)
        return (
            keyed_diff(prior, cur, keys=["doc_id"])
            .selectExpr(
                "doc_id", "op",
                "before.excluded AS excluded_prior",
                "after.excluded AS excluded_current",
                "before.n_screens_flagged AS n_screens_prior",
                "after.n_screens_flagged AS n_screens_current")
            .orderBy("doc_id")
        )
    text = decontaminate_ngram_overlap_suite_refresh(
        spark, sf_dir).selectExpr(
        "doc_id",
        f"(n_overlap - n_overlap_new_suite) >= "
        f"{CONTAMINATION_MIN_SHINGLES} AS flagged_text")
    sem = decontaminate_embedding_suite_refresh(spark, sf_dir).selectExpr(
        "vec_id AS doc_id",
        "(n_hits - n_hits_new_suite) >= 1 AS flagged_semantic")
    img = decontaminate_phash_suite_refresh(spark, sf_dir).selectExpr(
        "doc_id", "(n_hits - n_hits_new_suite) >= 1 AS flagged_image")
    aud = decontaminate_afp_suite_refresh(spark, sf_dir).selectExpr(
        "doc_id", "(n_hits - n_hits_new_suite) >= 1 AS flagged_audio")
    vid = decontaminate_vfp_suite_refresh(spark, sf_dir).selectExpr(
        "doc_id", "(n_hits - n_hits_new_suite) >= 1 AS flagged_video")
    prior = _manifest_assemble(text, sem, img, aud, vid)
    cur = contamination_manifest_table(spark, sf_dir)
    return (
        keyed_diff(prior, cur, keys=["doc_id"])
        .selectExpr(
            "doc_id", "op",
            "before.excluded AS excluded_prior",
            "after.excluded AS excluded_current",
            "before.n_screens_flagged AS n_screens_prior",
            "after.n_screens_flagged AS n_screens_current")
        .orderBy("doc_id")
    )


def _manifest_diff_oracle() -> str:
    flags = ["flagged_text", "flagged_semantic", "flagged_image",
             "flagged_audio", "flagged_video"]
    n = " + ".join(
        f"CASE WHEN COALESCE({c}, false) THEN 1 ELSE 0 END"
        for c in flags)
    same = " AND ".join(
        f"p.{c} IS NOT DISTINCT FROM c.{c}"
        for c in flags + ["n_screens_flagged", "excluded"])
    return f"""
WITH praw AS (
  SELECT t.doc_id,
         (t.n_overlap - t.n_overlap_new_suite)
           >= {CONTAMINATION_MIN_SHINGLES} AS flagged_text,
         (s.n_hits - s.n_hits_new_suite) >= 1 AS flagged_semantic,
         (i.n_hits - i.n_hits_new_suite) >= 1 AS flagged_image,
         (a.n_hits - a.n_hits_new_suite) >= 1 AS flagged_audio,
         (v.n_hits - v.n_hits_new_suite) >= 1 AS flagged_video
  FROM ({ORACLES["decontaminate_ngram_overlap_suite_refresh"]}) t
  LEFT JOIN ({ORACLES["decontaminate_embedding_suite_refresh"]}) s
    ON s.vec_id = t.doc_id
  LEFT JOIN ({ORACLES["decontaminate_phash_suite_refresh"]}) i
    ON i.doc_id = t.doc_id
  LEFT JOIN ({ORACLES["decontaminate_afp_suite_refresh"]}) a
    ON a.doc_id = t.doc_id
  LEFT JOIN ({ORACLES["decontaminate_vfp_suite_refresh"]}) v
    ON v.doc_id = t.doc_id),
pm AS (
  SELECT doc_id, {", ".join(flags)},
         CAST({n} AS BIGINT) AS n_screens_flagged,
         ({n}) >= 1 AS excluded
  FROM praw),
cur AS ({ORACLES["contamination_manifest"]})
SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
       CASE WHEN p.doc_id IS NULL THEN 'insert'
            WHEN c.doc_id IS NULL THEN 'delete'
            WHEN NOT ({same}) THEN 'update' END AS op,
       p.excluded AS excluded_prior,
       c.excluded AS excluded_current,
       p.n_screens_flagged AS n_screens_prior,
       c.n_screens_flagged AS n_screens_current
FROM pm p FULL OUTER JOIN cur c ON c.doc_id = p.doc_id
WHERE (CASE WHEN p.doc_id IS NULL THEN 'insert'
            WHEN c.doc_id IS NULL THEN 'delete'
            WHEN NOT ({same}) THEN 'update' END) IS NOT NULL
ORDER BY doc_id
"""


QUERIES["contamination_manifest_diff"] = contamination_manifest_diff
ORACLES["contamination_manifest_diff"] = _manifest_diff_oracle()


def suite_self_dedup_report(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Near-duplicates WITHIN the eval suite — the audit run before any
    screen: a benchmark with internally redundant items double-counts
    those capabilities in every eval score AND inflates the screens'
    hit counts (one leaked item reads as two). Per suite member:
    n_near_dups (other members within SEMANTIC_COSINE_THRESHOLD under
    the suite-top-k probe schedule — the same audited-recall machinery
    as the screen, pointed at the suite itself) and redundant (a
    near-dup with a smaller id exists — the dedup family's
    min-id-canonical rule, so dropping exactly the redundant rows
    leaves one representative per detected near-dup group chain).

    The probe-detected pair set is SYMMETRIZED before the roll-up:
    the probe schedule detects (a, b) when b's top-k cells include
    a's home cell, which is directional — without the flip a pair
    seen only from the smaller-id side would leave BOTH members
    non-redundant, breaking the one-representative rule on
    exactly the pairs the schedule half-sees. Cosine is symmetric, so
    the flipped rows carry the same score and the threshold commutes
    with the flip.

    Scale shape: suite x (k-expanded suite) through the single-cell
    equi-join — suite-sized both sides, broadcast, no corpus scan and
    no cartesian; the symmetrize is a union of the suite-sized pair
    set with its column-swapped self."""
    n = _suite_flagged_embeddings(spark, sf_dir)
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    suite = n.filter("is_suite")
    cents = _full_centroid_arrays(spark, sf_dir)
    exp = _suite_probe_expansion(suite, cents, SEMANTIC_PROBE_K,
                                 keep_id=True)
    pairs = (
        suite.join(F.broadcast(exp),
                   F.col("label") == F.col("s_label"))
        .filter(F.col("vec_id") != F.col("s_vec"))
        .select("vec_id", "s_vec",
                (F.expr(_SV_DOT) / (F.col("nrm") * F.col("snrm")))
                .alias("cosine"))
        .filter(F.col("cosine") >= SEMANTIC_COSINE_THRESHOLD))
    sym = pairs.unionByName(
        pairs.select(F.col("s_vec").alias("vec_id"),
                     F.col("vec_id").alias("s_vec"), "cosine"))
    agg = (sym.groupBy("vec_id")
           .agg(F.countDistinct("s_vec").alias("n_near_dups"),
                F.max(F.when(F.col("s_vec") < F.col("vec_id"), True)
                      .otherwise(False)).alias("redundant")))
    return (
        suite.select(F.col("vec_id").alias("s_doc"))
        .join(agg, agg.vec_id == F.col("s_doc"), "left")
        .selectExpr(
            "s_doc",
            "CAST(COALESCE(n_near_dups, 0) AS BIGINT) AS n_near_dups",
            "COALESCE(redundant, false) AS redundant")
        .orderBy("s_doc")
    )


def _suite_self_dedup_oracle() -> str:
    return f"""
WITH {_semantic_ctes("topk")},
pairs AS (
  SELECT c.vec_id, s.vec_id AS s_vec,
         {H.cosine_sql('c', 's')} AS cosine
  FROM {SEMANTIC_SCHEDULES["topk"].join}
  WHERE c.is_suite AND c.vec_id != s.vec_id),
sym AS (
  SELECT vec_id, s_vec, cosine FROM pairs
  UNION ALL
  SELECT s_vec AS vec_id, vec_id AS s_vec, cosine FROM pairs),
agg AS (
  SELECT vec_id,
         CAST(COUNT(DISTINCT s_vec) AS BIGINT) AS n_near_dups,
         MAX(CASE WHEN s_vec < vec_id THEN TRUE ELSE FALSE END)
           AS redundant
  FROM sym WHERE cosine >= {SEMANTIC_COSINE_THRESHOLD}
  GROUP BY vec_id)
SELECT su.vec_id AS s_doc,
       CAST(COALESCE(a.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       COALESCE(a.redundant, FALSE) AS redundant
FROM n su LEFT JOIN agg a ON a.vec_id = su.vec_id
WHERE su.is_suite
ORDER BY su.vec_id
"""


QUERIES["suite_self_dedup_report"] = suite_self_dedup_report
ORACLES["suite_self_dedup_report"] = _suite_self_dedup_oracle()


def bpe_fertility_by_lang(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — tokens per word under the
    corpus-learned BPE vocabulary, the standard check that a tokenizer
    isn't taxing one language's compute budget (a language at 2x
    fertility pays 2x sequence length for the same text; the number a
    multilingual data mix is balanced against). Per lang: word
    occurrences, BPE tokens, characters, fertility = tokens/word, and
    chars/token (the compression the vocab achieves there).

    Scale shape: the corpus collapses to (lang, word) occurrences; the
    vocabulary table (memoized _bpe_learn — vocab-sized, with the word
    reconstructable as the concatenation of its symbols) joins on the
    word; one lang-keyed aggregation. The corpus is scanned once; the
    BPE loop is not re-run."""
    _, words = _bpe_learn(spark, sf_dir)
    vocab = words.selectExpr("array_join(sym, '') AS w",
                             "size(sym) AS n_tok")
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    dw = docs.selectExpr(
        "lang", f"explode({H.tokens('text', 'spark')}) AS w")
    return (
        dw.join(vocab, "w")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
             F.sum("n_tok").cast("long").alias("n_tokens"),
             F.sum(F.length("w")).cast("long").alias("n_chars"))
        .selectExpr(
            "lang", "n_words", "n_tokens", "n_chars",
            "CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)"
            " AS fertility",
            "CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
            " AS chars_per_token")
        .orderBy("lang")
    )


def _bpe_fertility_oracle(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_ctes(n_merges)
    return ("WITH " + ",\n".join(ctes) + f""",
fin AS (SELECT string_split(substring(txt, 2, length(txt) - 2), '||')
        AS sym FROM g{n_merges}),
vocab AS (SELECT array_to_string(sym, '') AS w, len(sym) AS n_tok
          FROM fin),
dw AS (SELECT lang, unnest({H.tokens('text', 'duck')}) AS w
       FROM documents)
SELECT dw.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(length(dw.w)) AS BIGINT) AS n_chars,
       CAST(SUM(v.n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS fertility,
       CAST(SUM(length(dw.w)) AS DOUBLE) / CAST(SUM(v.n_tok) AS DOUBLE)
         AS chars_per_token
FROM dw JOIN vocab v ON v.w = dw.w
GROUP BY dw.lang
ORDER BY dw.lang
""")


QUERIES["bpe_fertility_by_lang"] = bpe_fertility_by_lang
ORACLES["bpe_fertility_by_lang"] = _bpe_fertility_oracle()


def importance_sampling_weights(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Importance weights for TARGET-DOMAIN data selection — the
    importance-resampling recipe (DSIR, Xie et al. 2023: score corpus
    documents by a target-vs-corpus n-gram LM ratio, then sample
    proportionally) with the held-out benchmark split standing in as
    the target domain. Per corpus document: token count, its
    target-vocabulary mass and corpus-vocabulary mass (sums of the
    top-{UNIGRAM_VOCAB} unigram counts over its tokens — EXACT BIGINT
    arithmetic, the unigram_lm_scores convention), and the
    importance ratio of add-one-smoothed per-token frequency masses,
        (target_mass + n) * (Nc + V)
      / ((corpus_mass + n) * (Nt + V)),
    a fixed 3-op IEEE expression on bit-identical integers —
    deterministic where the textbook product-of-probabilities form
    would need a float fold; the RANKING it induces is what the
    resampler consumes. NULL for zero-token documents (nothing to
    score).

    Scale shape: two explode->count passes with bounded top-V driver
    collects (broadcast map literals, the unigram_lm_scores shape);
    scoring is a scan-local fold per document inside codegen — no join,
    no shuffle beyond the two vocab counts."""
    return _importance_weights(spark, sf_dir, incoming_only=False)


def _importance_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks, is_bench) — the tokenized frame every
    importance-family form starts from."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    return docs.selectExpr(
        "doc_id", f"{H.tokens('text', 'spark')} AS toks",
        f"{key_hash('doc_id')} < {BENCH_RATE} AS is_bench")


def _importance_side_counts(frame: DataFrame) -> "tuple[list, int]":
    """Bounded top-V unigram vocab of one side: (top rows, total n)."""
    tok = (frame.selectExpr("explode_outer(toks) AS tok")
           .filter(F.col("tok").isNotNull()))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = counts.agg(F.sum("cnt").alias("n")).collect()[0]["n"] or 0
    top = (counts.orderBy(F.col("cnt").desc(), F.col("tok"))
           .limit(UNIGRAM_VOCAB).collect())
    return top, int(n)


def _importance_vocabs(spark: SparkSession, sf_dir: str):
    """The (target, corpus) vocab artifact pair — memoized per
    (session, dataset): the two bounded top-V collects are the whole
    cost of the weights query, and the SELECTION step (and repeated
    sweeps) reuse the artifact (session_memo stores the collected
    rows; it is value-agnostic)."""
    toks = _importance_toks(spark, sf_dir)

    def build_vocabs():
        return (_importance_side_counts(toks.filter("is_bench")),
                _importance_side_counts(toks.filter("NOT is_bench")))

    return session_memo(spark, ("importance_vocab", sf_dir),
                        build_vocabs)


def _importance_as_map(rows: list) -> F.Column:
    entries: list = []
    for r in rows:
        entries += [F.lit(r["tok"]), F.lit(int(r["cnt"]))]
    return (F.create_map(*entries) if entries
            else F.expr("map('', CAST(0 AS BIGINT))"))


def _importance_mass(vmap: F.Column) -> F.Column:
    zero = F.lit(0).cast("long")
    return F.aggregate(
        "toks", zero,
        lambda acc, tk: acc + F.coalesce(
            F.try_element_at(vmap, tk), zero))


def _importance_weights(spark: SparkSession, sf_dir: str,
                        incoming_only: bool) -> DataFrame:
    """Shared body of the importance-weights batch and delta-ingest
    forms: one vocab artifact (memoized bounded collects — FIXED per
    release, like the screens' suite artifacts), one scan-local
    scoring pass over either the full corpus or only the incoming
    batch."""
    toks = _importance_toks(spark, sf_dir)
    (t_top, n_t), (c_top, n_c) = _importance_vocabs(spark, sf_dir)
    as_map, mass = _importance_as_map, _importance_mass
    v = UNIGRAM_VOCAB
    side = toks.filter("NOT is_bench")
    if incoming_only:
        side = side.filter(
            (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    scored = (side
              .withColumn("tmap", as_map(t_top))
              .withColumn("cmap", as_map(c_top))
              .select("doc_id",
                      F.size("toks").cast("long").alias("n_tokens"),
                      mass(F.col("tmap")).alias("target_mass"),
                      mass(F.col("cmap")).alias("corpus_mass")))
    return (
        scored.select(
            "doc_id", "n_tokens", "target_mass", "corpus_mass",
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                (F.col("target_mass") + F.col("n_tokens")).cast("double")
                * F.lit(float(n_c + v))
                / ((F.col("corpus_mass") + F.col("n_tokens"))
                   .cast("double") * F.lit(float(n_t + v))))
            .alias("importance"))
        .orderBy("doc_id")
    )


def _importance_weights_sql(incoming_only: bool) -> str:
    inc = (f"AND doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW} "
           if incoming_only else "")
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks,
                     {key_hash('doc_id')} < {BENCH_RATE} AS is_bench
              FROM documents),
ttok AS (SELECT unnest(toks) AS tok FROM toks WHERE is_bench),
tcounts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ttok GROUP BY tok),
tn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM tcounts),
tvocab AS (SELECT tok, cnt FROM tcounts
           ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
ctok AS (SELECT unnest(toks) AS tok FROM toks WHERE NOT is_bench),
ccounts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ctok GROUP BY tok),
cn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM ccounts),
cvocab AS (SELECT tok, cnt FROM ccounts
           ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks
       WHERE NOT is_bench {inc}),
masses AS (
  SELECT ex.doc_id,
         CAST(COALESCE(SUM(COALESCE(tv.cnt, 0)), 0) AS BIGINT)
           AS target_mass,
         CAST(COALESCE(SUM(COALESCE(cv.cnt, 0)), 0) AS BIGINT)
           AS corpus_mass
  FROM ex
  LEFT JOIN tvocab tv ON tv.tok = ex.tok
  LEFT JOIN cvocab cv ON cv.tok = ex.tok
  GROUP BY ex.doc_id),
base AS (SELECT doc_id, len(toks) AS n_tokens FROM toks
         WHERE NOT is_bench {inc})
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(m.target_mass, 0) AS BIGINT) AS target_mass,
       CAST(COALESCE(m.corpus_mass, 0) AS BIGINT) AS corpus_mass,
       CASE WHEN b.n_tokens = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(COALESCE(m.target_mass, 0) + b.n_tokens AS DOUBLE)
                 * CAST((SELECT n FROM cn) + {UNIGRAM_VOCAB} AS DOUBLE)
                 / (CAST(COALESCE(m.corpus_mass, 0) + b.n_tokens
                         AS DOUBLE)
                    * CAST((SELECT n FROM tn) + {UNIGRAM_VOCAB}
                           AS DOUBLE))
       END AS importance
FROM base b LEFT JOIN masses m ON m.doc_id = b.doc_id
ORDER BY b.doc_id
"""


IMPORTANCE_WEIGHTS_SQL = _importance_weights_sql(False)


QUERIES["importance_sampling_weights"] = importance_sampling_weights
ORACLES["importance_sampling_weights"] = IMPORTANCE_WEIGHTS_SQL


# Scales the importance ratio into a keep probability for the
# resampling step; 0.5 puts the ratio-1 bulk of this corpus at a 50%
# keep rate so both outcomes are well-populated at every driver SF.
IMPORTANCE_BASE_RATE = 0.5


def importance_resampled_selection(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The SELECTION step of importance resampling — what DSIR does
    with the weights: keep each corpus document with probability
    proportional to its importance. The randomness is the family's
    deterministic multiplicative hash mapped to [0, 1) over the
    SELECTABLE population (one IEEE subtract + divide), so the sample
    is a pure function of the key — stable across engines,
    partitionings, and reruns (the deterministic_sample convention),
    while matching Bernoulli importance resampling in distribution.
    The rescale matters: corpus membership is itself
    key_hash >= BENCH_RATE, so the RAW hash/MOD draw is uniform on
    [BENCH_RATE/MOD, 1) over corpus docs — every keep probability
    deflated ~5 points, and any doc with p_keep <= BENCH_RATE/MOD
    deterministically never kept. u = (key_hash - BENCH_RATE)
    / (MOD - BENCH_RATE) restores a uniform [0, 1) draw on exactly
    the population the Bernoulli runs over. Per corpus doc:
    importance, p_keep = min(1, importance x {IMPORTANCE_BASE_RATE}),
    the uniform draw, keep = u < p_keep (zero-token docs: NULL
    importance, never kept).

    Scale shape: importance_sampling_weights' scan plus four
    scan-local IEEE ops — no extra shuffle."""
    return _importance_selection(spark, sf_dir, incoming_only=False)


def importance_resampled_selection_incremental(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest form of the resampler: only
    the incoming batch (doc_id % {INCREMENTAL_MOD} >=
    {INCREMENTAL_NEW}, the corpus-wide convention) scores and draws,
    against the STANDING importance-vocab artifact — the memoized
    bounded top-V collects are exactly the fixed-per-release broadcast
    the screens' incremental twins reuse, so per-ingest cost is
    O(batch) scan-local work with no vocab rebuild. Both the draw and
    p_keep are pure per-key functions, so rows are identical to the
    batch selection's for incoming ids (path-equivalence pytest) and
    the union over ingests IS the batch sample.

    (A deployment refreshes the vocab by explicit release — the
    recomputation here is the self-contained testdata stand-in, the
    same convention as every screen's suite artifact.)"""
    return _importance_selection(spark, sf_dir, incoming_only=True)


def _importance_selection(spark: SparkSession, sf_dir: str,
                          incoming_only: bool) -> DataFrame:
    """Shared body of the selection's batch and delta-ingest forms."""
    w = _importance_weights(spark, sf_dir, incoming_only)
    return (
        w.selectExpr(
            "doc_id", "n_tokens", "importance",
            f"CAST(({key_hash('doc_id')}) - {BENCH_RATE} AS DOUBLE)"
            f" / {MOD - BENCH_RATE}.0 AS u",
            f"least(CAST(1.0 AS DOUBLE), importance"
            f" * {IMPORTANCE_BASE_RATE}) AS p_keep")
        .selectExpr(
            "doc_id", "n_tokens", "importance", "u", "p_keep",
            "COALESCE(u < p_keep, false) AS keep")
        .orderBy("doc_id")
    )


def _importance_selection_sql(incoming_only: bool) -> str:
    return f"""
WITH w AS ({_importance_weights_sql(incoming_only)}),
sel AS (
  SELECT doc_id, n_tokens, importance,
         CAST(({key_hash('doc_id')}) - {BENCH_RATE} AS DOUBLE)
           / {MOD - BENCH_RATE}.0 AS u,
         least(CAST(1.0 AS DOUBLE),
               importance * {IMPORTANCE_BASE_RATE}) AS p_keep
  FROM w)
SELECT doc_id, n_tokens, importance, u, p_keep,
       COALESCE(u < p_keep, false) AS keep
FROM sel
ORDER BY doc_id
"""


IMPORTANCE_SELECTION_SQL = _importance_selection_sql(False)


QUERIES["importance_resampled_selection"] = importance_resampled_selection
ORACLES["importance_resampled_selection"] = IMPORTANCE_SELECTION_SQL
QUERIES["importance_resampled_selection_incremental"] = \
    importance_resampled_selection_incremental
ORACLES["importance_resampled_selection_incremental"] = \
    _importance_selection_sql(True)


def importance_resampled_selection_target_refresh(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampler's SECOND growth event — a TARGET-distribution
    release (the target is a per-release artifact exactly like a
    screen's suite). A new benchmark release adds
    target documents after the corpus was scored and drawn, which
    moves the target vocab artifact (top-V counts AND total mass), so
    every standing document's importance — and possibly its selection
    — changes. This form emits the re-selection delta a training
    pipeline applies: per corpus document, the OLD importance/keep
    (under the pre-release target: bench members outside the release
    convention doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW} — the
    corpus-wide release convention applied to the target side, the
    screens' new-suite-member stand-in), the REFRESHED
    importance/keep (under the full target — bit-identical to
    importance_resampled_selection's row, the path-equivalence pin),
    the phase label (ingest = incoming corpus batch, backfill =
    standing corpus — the lsh/ngram suite-refresh convention), and
    selection_changed = keep_old != keep, i.e. exactly the rows to
    drop from / add to the standing sample. The draw u is a pure
    function of the key, so it is SHARED between the two selections —
    a release never re-rolls the randomness, only moves p_keep.

    Scale shape: one extra bounded top-V collect (the old-target
    vocab, memoized per release like the suite artifacts) and one
    extra map-lookup fold per document — still scan-local, no join,
    no shuffle beyond the vocab counts; the corpus-side vocab is
    untouched by a target release."""
    toks = _importance_toks(spark, sf_dir)
    (t_top, n_t), (c_top, n_c) = _importance_vocabs(spark, sf_dir)

    def build_old():
        return _importance_side_counts(toks.filter(
            f"is_bench AND NOT (doc_id % {INCREMENTAL_MOD}"
            f" >= {INCREMENTAL_NEW})"))

    o_top, n_o = session_memo(
        spark, ("importance_vocab_target_old", sf_dir), build_old)

    v = UNIGRAM_VOCAB
    scored = (toks.filter("NOT is_bench")
              .withColumn("tmap", _importance_as_map(t_top))
              .withColumn("omap", _importance_as_map(o_top))
              .select("doc_id",
                      F.size("toks").cast("long").alias("n_tokens"),
                      _importance_mass(F.col("omap"))
                      .alias("target_mass_old"),
                      _importance_mass(F.col("tmap"))
                      .alias("target_mass"),
                      _importance_mass(
                          _importance_as_map(c_top))
                      .alias("corpus_mass")))

    def imp(tmass: str, n_target: int) -> F.Column:
        return (F.when(F.col("n_tokens") == 0,
                       F.lit(None).cast("double"))
                .otherwise(
                    (F.col(tmass) + F.col("n_tokens")).cast("double")
                    * F.lit(float(n_c + v))
                    / ((F.col("corpus_mass") + F.col("n_tokens"))
                       .cast("double") * F.lit(float(n_target + v)))))

    return (
        scored
        .select("doc_id", "n_tokens",
                imp("target_mass_old", n_o).alias("importance_old"),
                imp("target_mass", n_t).alias("importance"))
        .selectExpr(
            "doc_id",
            f"CASE WHEN doc_id % {INCREMENTAL_MOD}"
            f" >= {INCREMENTAL_NEW} THEN 'ingest'"
            " ELSE 'backfill' END AS phase",
            "n_tokens", "importance_old", "importance",
            f"CAST(({key_hash('doc_id')}) - {BENCH_RATE} AS DOUBLE)"
            f" / {MOD - BENCH_RATE}.0 AS u",
            f"least(CAST(1.0 AS DOUBLE), importance_old"
            f" * {IMPORTANCE_BASE_RATE}) AS p_keep_old",
            f"least(CAST(1.0 AS DOUBLE), importance"
            f" * {IMPORTANCE_BASE_RATE}) AS p_keep")
        .selectExpr(
            "doc_id", "phase", "n_tokens", "importance_old",
            "importance", "u", "p_keep_old", "p_keep",
            "COALESCE(u < p_keep_old, false) AS keep_old",
            "COALESCE(u < p_keep, false) AS keep")
        .selectExpr("*", "keep_old != keep AS selection_changed")
        .orderBy("doc_id")
    )


IMPORTANCE_TARGET_REFRESH_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks,
                     {key_hash('doc_id')} < {BENCH_RATE} AS is_bench
              FROM documents),
ttok AS (SELECT unnest(toks) AS tok FROM toks WHERE is_bench),
tcounts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ttok GROUP BY tok),
tn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM tcounts),
tvocab AS (SELECT tok, cnt FROM tcounts
           ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
otok AS (SELECT unnest(toks) AS tok FROM toks
         WHERE is_bench
           AND NOT (doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW})),
ocounts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM otok GROUP BY tok),
onn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM ocounts),
ovocab AS (SELECT tok, cnt FROM ocounts
           ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
ctok AS (SELECT unnest(toks) AS tok FROM toks WHERE NOT is_bench),
ccounts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ctok GROUP BY tok),
cn AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM ccounts),
cvocab AS (SELECT tok, cnt FROM ccounts
           ORDER BY cnt DESC, tok LIMIT {UNIGRAM_VOCAB}),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks
       WHERE NOT is_bench),
masses AS (
  SELECT ex.doc_id,
         CAST(COALESCE(SUM(COALESCE(ov.cnt, 0)), 0) AS BIGINT)
           AS target_mass_old,
         CAST(COALESCE(SUM(COALESCE(tv.cnt, 0)), 0) AS BIGINT)
           AS target_mass,
         CAST(COALESCE(SUM(COALESCE(cv.cnt, 0)), 0) AS BIGINT)
           AS corpus_mass
  FROM ex
  LEFT JOIN ovocab ov ON ov.tok = ex.tok
  LEFT JOIN tvocab tv ON tv.tok = ex.tok
  LEFT JOIN cvocab cv ON cv.tok = ex.tok
  GROUP BY ex.doc_id),
base AS (SELECT doc_id, len(toks) AS n_tokens FROM toks
         WHERE NOT is_bench),
w AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}
              THEN 'ingest' ELSE 'backfill' END AS phase,
         CAST(b.n_tokens AS BIGINT) AS n_tokens,
         CASE WHEN b.n_tokens = 0 THEN CAST(NULL AS DOUBLE)
              ELSE CAST(COALESCE(m.target_mass_old, 0) + b.n_tokens
                        AS DOUBLE)
                   * CAST((SELECT n FROM cn) + {UNIGRAM_VOCAB}
                          AS DOUBLE)
                   / (CAST(COALESCE(m.corpus_mass, 0) + b.n_tokens
                           AS DOUBLE)
                      * CAST((SELECT n FROM onn) + {UNIGRAM_VOCAB}
                             AS DOUBLE))
         END AS importance_old,
         CASE WHEN b.n_tokens = 0 THEN CAST(NULL AS DOUBLE)
              ELSE CAST(COALESCE(m.target_mass, 0) + b.n_tokens
                        AS DOUBLE)
                   * CAST((SELECT n FROM cn) + {UNIGRAM_VOCAB}
                          AS DOUBLE)
                   / (CAST(COALESCE(m.corpus_mass, 0) + b.n_tokens
                           AS DOUBLE)
                      * CAST((SELECT n FROM tn) + {UNIGRAM_VOCAB}
                             AS DOUBLE))
         END AS importance,
         CAST(({key_hash('b.doc_id')}) - {BENCH_RATE} AS DOUBLE)
           / {MOD - BENCH_RATE}.0 AS u
  FROM base b LEFT JOIN masses m ON m.doc_id = b.doc_id),
sel AS (
  SELECT doc_id, phase, n_tokens, importance_old, importance, u,
         least(CAST(1.0 AS DOUBLE),
               importance_old * {IMPORTANCE_BASE_RATE}) AS p_keep_old,
         least(CAST(1.0 AS DOUBLE),
               importance * {IMPORTANCE_BASE_RATE}) AS p_keep
  FROM w)
SELECT doc_id, phase, n_tokens, importance_old, importance, u,
       p_keep_old, p_keep,
       COALESCE(u < p_keep_old, false) AS keep_old,
       COALESCE(u < p_keep, false) AS keep,
       COALESCE(u < p_keep_old, false) != COALESCE(u < p_keep, false)
         AS selection_changed
FROM sel
ORDER BY doc_id
"""


QUERIES["importance_resampled_selection_target_refresh"] = \
    importance_resampled_selection_target_refresh
ORACLES["importance_resampled_selection_target_refresh"] = \
    IMPORTANCE_TARGET_REFRESH_SQL


def semantic_screen_recall_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Measured recall cost of the semantic screen's blocking —
    jaccard_cap_recall_audit's role transplanted to the embedding side,
    and the number that decides which schedule a training run can
    trust. Per blocked schedule (its SEMANTIC_SCHEDULES audit label:
    cell_blocked, cell_multiprobe, lsh_bands, suite_topk_probe):
    flagged count, overlap with the EXACT unblocked screen (every
    corpus vector against every suite vector — the audit-only baseline,
    ann_bruteforce_topk's role), miss count, and recall. The exact
    side is bounded-corpus machinery: at 100 TB the audit samples, it
    never sweeps.

    The suite_topk_probe row is the recall fix's receipt: 0.905 /
    0.883 at sf0.01 / sf0.1 — at or above SEMANTIC_RECALL_TARGET — vs
    0.13 cell-blocked / 0.27 multiprobe; semantic_probe_recall_sweep
    shows the full frontier this point sits on.

    Structurally every blocked method's flags are subsets of the exact
    screen's (same scoring, fewer candidates), so n_missed is pure
    blocking loss — the audit measures it rather than assumes it."""
    exact = (_semantic_true_pairs(spark, sf_dir)
             .select("vec_id").distinct()
             .withColumn("in_true", F.lit(1)))
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    out = None
    for method, schedule in _audited_schedules():
        flagged = (_semantic_screen(spark, sf_dir, schedule, "batch")
                   .filter("contaminated").select("vec_id"))
        row = (flagged.join(exact, "vec_id", "left")
               .agg(F.count(F.lit(1)).cast("long").alias("n_flagged"),
                    F.count("in_true").cast("long").alias("n_common"))
               .selectExpr(f"'{method}' AS method", "n_flagged",
                           "n_common"))
        out = row if out is None else out.unionByName(row)
    return (
        out.crossJoin(F.broadcast(n_true))
        .selectExpr(
            "method", "n_true", "n_flagged", "n_common",
            "n_true - n_common AS n_missed",
            "CAST(n_common AS DOUBLE)"
            " / CAST(nullif(n_true, 0) AS DOUBLE) AS recall")
        .orderBy("method")
    )


def _audited_schedules() -> "list[tuple[str, str]]":
    """(audit label, schedule) of every blocked schedule, by label."""
    return sorted((s.audit, name) for name, s in SEMANTIC_SCHEDULES.items()
                  if s.audit)


def _semantic_recall_oracle() -> str:
    audited = _audited_schedules()
    flagged = ",\n".join(f"f_{name} AS ({_flagged_sql(name)})"
                         for _, name in audited)
    rows = "\n  UNION ALL\n".join(
        f"""  SELECT '{method}' AS method,
         CAST((SELECT COUNT(*) FROM f_{name}) AS BIGINT) AS n_flagged,
         CAST((SELECT COUNT(*) FROM f_{name} f
               JOIN exact e ON e.vec_id = f.vec_id) AS BIGINT) AS n_common"""
        for method, name in audited)
    return f"""
WITH {_semantic_ctes(*SEMANTIC_SCHEDULES)},
exact AS ({_flagged_sql("exact")}),
{flagged},
tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM exact),
rows_m AS (
{rows})
SELECT method, tp.n_true, n_flagged, n_common,
       tp.n_true - n_common AS n_missed,
       CAST(n_common AS DOUBLE)
         / CAST(NULLIF(tp.n_true, 0) AS DOUBLE) AS recall
FROM rows_m CROSS JOIN tp
ORDER BY method
"""


QUERIES["semantic_screen_recall_audit"] = semantic_screen_recall_audit
ORACLES["semantic_screen_recall_audit"] = _semantic_recall_oracle()


def semantic_probe_recall_sweep(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The probes-vs-recall frontier of the suite-top-k screen — the
    lsh_banding_sweep pattern transplanted: per probe count k, the
    candidate volume the schedule pays and the recall it buys, so
    SEMANTIC_PROBE_K is a measured choice and semantic_screen_policy a
    data-driven dispatch instead of a constant. Per k = 1..n_cells:
    candidate_pairs (corpus rows visible to the k-expanded suite),
    n_true (exact-screen positives — the audit-only brute-force
    baseline), n_caught (positives whose first catching cell ranks
    <= k), recall, meets_target.

    On this near-isotropic testdata the frontier is nearly linear
    (recall ~ k/n_cells + a small geometry lift): true matches sit
    barely above the cosine threshold, so cells carry little signal —
    exactly the regime where the policy's exact_screen cutover fires.
    On a clustered real corpus the curve bends hard left and small k
    wins; this sweep is how a deployment finds out which world it is
    in.

    Scale shape: ranks/candidates are suite x n_cells broadcast-side
    math; the only corpus-sized terms are one groupBy-label count and
    the exact baseline (bounded-corpus audit machinery — sampled at
    100 TB, like semantic_screen_recall_audit's exact side)."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    n = _suite_flagged_embeddings(spark, sf_dir)
    cents = _full_centroid_arrays(spark, sf_dir)
    # ranks is consumed three times below (ks, cand, first_k); cut at
    # this bounded frontier (suite x n_cells rows) so the suite-centroid
    # dot + rank window runs once, not three times (guide §2.4)
    ranks = cut_lineage(_suite_cell_ranks(n.filter("is_suite"), cents))
    corpus = n.filter(~F.col("is_suite"))
    ks = ranks.select(F.col("rk").alias("k")).distinct()
    cell_counts = (corpus.groupBy(F.col("label").alias("s_label"))
                   .agg(F.count(F.lit(1)).alias("cnt")))
    cand = (ranks.join(F.broadcast(cell_counts), "s_label")
            .join(F.broadcast(ks), F.col("rk") <= F.col("k"))
            .groupBy("k")
            .agg(F.sum("cnt").cast("long").alias("candidate_pairs")))
    true_pairs = _semantic_true_pairs(spark, sf_dir)
    first_k = (
        true_pairs.join(
            F.broadcast(ranks.select("s_vec", "s_label", "rk")),
            (true_pairs["s_vec"] == ranks["s_vec"])
            & (true_pairs["label"] == ranks["s_label"]))
        .groupBy(true_pairs["vec_id"])
        .agg(F.min("rk").alias("first_k")))
    n_true = first_k.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    caught = (first_k.join(F.broadcast(ks), F.col("first_k") <= F.col("k"))
              .groupBy("k")
              .agg(F.count(F.lit(1)).cast("long").alias("n_caught")))
    return (
        ks.join(F.broadcast(cand), "k", "left")
        .join(F.broadcast(caught), "k", "left")
        .crossJoin(F.broadcast(n_true))
        .selectExpr(
            "CAST(k AS INT) AS k",
            "COALESCE(candidate_pairs, 0) AS candidate_pairs",
            "n_true",
            "COALESCE(n_caught, CAST(0 AS BIGINT)) AS n_caught",
            "CAST(COALESCE(n_caught, 0) AS DOUBLE)"
            " / CAST(nullif(n_true, 0) AS DOUBLE) AS recall",
            "CAST(COALESCE(n_caught, 0) AS DOUBLE)"
            f" / CAST(nullif(n_true, 0) AS DOUBLE)"
            f" >= {SEMANTIC_RECALL_TARGET} AS meets_target")
        .orderBy("k")
    )


def _semantic_sweep_ctes() -> str:
    """DuckDB CTE chain shared by the sweep oracle and the policy
    oracle, after _semantic_ctes("topk"): per-k candidate volume over
    the suite cell ranks (srank) + first-catching-rank recall over the
    exact schedule's positive pairs."""
    return f"""ks AS (SELECT DISTINCT rk AS k FROM srank),
cellcnt AS (
  SELECT label AS s_label, COUNT(*) AS cnt
  FROM n WHERE NOT is_suite GROUP BY label),
cand AS (
  SELECT ks.k, CAST(SUM(cnt) AS BIGINT) AS candidate_pairs
  FROM srank r JOIN cellcnt cc2 ON cc2.s_label = r.s_label
  JOIN ks ON r.rk <= ks.k GROUP BY ks.k),
tp AS (
  SELECT c.vec_id, c.label, s.vec_id AS s_vec
  FROM {SEMANTIC_SCHEDULES["exact"].join}
  WHERE NOT c.is_suite
    AND {H.cosine_sql('c', 's')} >= {SEMANTIC_COSINE_THRESHOLD}),
firstk AS (
  SELECT t.vec_id, MIN(r.rk) AS first_k
  FROM tp t JOIN srank r ON r.s_vec = t.s_vec AND r.s_label = t.label
  GROUP BY t.vec_id),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM firstk),
caught AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_caught
  FROM firstk f JOIN ks ON f.first_k <= ks.k GROUP BY ks.k),
sweep AS (
  SELECT CAST(ks.k AS INT) AS k,
         COALESCE(cand.candidate_pairs, 0) AS candidate_pairs,
         nt.n_true,
         COALESCE(caught.n_caught, CAST(0 AS BIGINT)) AS n_caught,
         CAST(COALESCE(caught.n_caught, 0) AS DOUBLE)
           / CAST(NULLIF(nt.n_true, 0) AS DOUBLE) AS recall,
         CAST(COALESCE(caught.n_caught, 0) AS DOUBLE)
           / CAST(NULLIF(nt.n_true, 0) AS DOUBLE)
           >= {SEMANTIC_RECALL_TARGET} AS meets_target
  FROM ks
  LEFT JOIN cand ON cand.k = ks.k
  LEFT JOIN caught ON caught.k = ks.k
  CROSS JOIN nt)"""


SEMANTIC_SWEEP_SQL = f"""
WITH {_semantic_ctes("topk")},
{_semantic_sweep_ctes()}
SELECT * FROM sweep ORDER BY k
"""


QUERIES["semantic_probe_recall_sweep"] = semantic_probe_recall_sweep
ORACLES["semantic_probe_recall_sweep"] = SEMANTIC_SWEEP_SQL


def semantic_screen_policy(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The semantic screen's deployment decision (the
    band_blocking_policy pattern): read the measured frontier and emit
    the schedule this corpus should run.

    Priced schedules: (a) suite-top-k cell probing at k_star — the
    smallest probe count whose audited recall meets
    SEMANTIC_RECALL_TARGET (always exists: k = n_cells IS the exact
    screen); (b) the angle-keyed hyperplane-LSH banded screen —
    measured entity recall and DISTINCT band-matched candidate pairs
    (its recall is a structural S-curve of the pair cosine, so it
    stays priced even where the quantizer's cells carry no signal);
    (c) the exact screen, recall 1.0 at the full pair space. Decision:
    among the recall-eligible blocked schedules take the one with the
    smaller candidate volume; if even that volume reaches
    SEMANTIC_EXACT_CUTOVER of the exact pair space, blocking is
    bookkeeping without savings — dispatch 'exact_screen'. On this
    near-isotropic testdata the top-k schedule prices AT the exact
    volume (cells are signal-free) while the LSH bands price at ~1/3
    of it with recall above target, so the policy dispatches
    'lsh_bands', a sub-linear option where the cell schedules have
    only the exact fallback.

    semantic_screen_artifacts(action) maps the decision to the
    concrete registry queries / stream / actuator seam, pinned
    resolvable by pytest — the same audit -> decision -> deployment
    loop as the banded dedup families.

    Scale shape: one census query by design — the sweep's exact
    baseline and the LSH recall's exact baseline are bounded-corpus
    audit machinery, sampled at 100 TB; the LSH terms reuse the
    memoized signature table."""
    # the sweep output is n_cells rows consumed twice (best row +
    # max-k); materialize it once instead of unrolling the whole sweep
    # plan under each consumer (guide §2.4)
    sweep = cut_lineage(semantic_probe_recall_sweep(spark, sf_dir))
    n = _suite_flagged_embeddings(spark, sf_dir)
    best = sweep.filter("meets_target").orderBy("k").limit(1)
    sizes = n.agg(
        F.sum(F.when(F.col("is_suite"), 1).otherwise(0))
        .cast("long").alias("n_suite"),
        F.sum(F.when(~F.col("is_suite"), 1).otherwise(0))
        .cast("long").alias("n_corpus"))
    ncells = sweep.agg(F.max("k").cast("int").alias("n_cells"))
    # LSH pricing off the memoized pair artifacts: the
    # band-matched pair table and the exact-positive pair table already
    # hold everything the two counters need — a band-matched pair is a
    # candidate, and a band-matched TRUE pair (cosine >= threshold, the
    # same zip_with fold over the same arrays) is exactly a pair the
    # screen catches. Set equality, not approximation: the screen's
    # contaminated set is {v : EXISTS s. band(v,s) AND cos(v,s) >= t},
    # every hit is a true positive by construction, so re-running the
    # banded screen + rescore here would only re-derive rows these
    # artifacts encode.
    first_band = _lsh_first_band(spark, sf_dir)
    lsh_cand = first_band.agg(
        F.count(F.lit(1)).cast("long").alias("lsh_cand_pairs"))
    lsh_caught = (
        _semantic_true_pairs(spark, sf_dir)
        .join(first_band, ["vec_id", "s_vec"])
        .select("vec_id").distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("lsh_n_caught")))
    topk_frac = ("CAST(candidate_pairs AS DOUBLE)"
                 " / CAST(n_corpus * n_suite AS DOUBLE)")
    lsh_frac = ("CAST(lsh_cand_pairs AS DOUBLE)"
                " / CAST(n_corpus * n_suite AS DOUBLE)")
    lsh_recall = ("CAST(lsh_n_caught AS DOUBLE)"
                  " / CAST(nullif(n_true, 0) AS DOUBLE)")
    lsh_ok = f"{lsh_recall} >= {SEMANTIC_RECALL_TARGET}"
    chosen_frac = (f"CASE WHEN {lsh_ok} AND {lsh_frac} < {topk_frac} "
                   f"THEN {lsh_frac} ELSE {topk_frac} END")
    return (
        best.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(ncells))
        .crossJoin(F.broadcast(lsh_cand))
        .crossJoin(F.broadcast(lsh_caught))
        .selectExpr(
            "n_cells",
            "CAST(k AS INT) AS k_star",
            "n_true",
            "n_caught",
            "recall AS recall_at_k",
            "candidate_pairs",
            f"{topk_frac} AS cand_frac",
            "lsh_n_caught",
            f"{lsh_recall} AS lsh_recall",
            "lsh_cand_pairs",
            f"{lsh_frac} AS lsh_frac",
            "n_corpus * n_suite AS exact_pairs",
            f"CASE WHEN {chosen_frac} >= {SEMANTIC_EXACT_CUTOVER}"
            f" THEN 'exact_screen'"
            f" WHEN {lsh_ok} AND {lsh_frac} < {topk_frac}"
            f" THEN 'lsh_bands'"
            f" ELSE 'topk_probe' END AS action")
    )


SEMANTIC_POLICY_SQL = f"""
WITH {_semantic_ctes("topk", "lsh")},
{_semantic_sweep_ctes()},
best AS (SELECT * FROM sweep WHERE meets_target ORDER BY k LIMIT 1),
sizes AS (
  SELECT CAST(SUM(CASE WHEN is_suite THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suite,
         CAST(SUM(CASE WHEN is_suite THEN 0 ELSE 1 END) AS BIGINT)
           AS n_corpus
  FROM n),
nc AS (SELECT CAST(MAX(k) AS INT) AS n_cells FROM sweep),
lshcand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS lsh_cand_pairs FROM (
    SELECT DISTINCT c.vec_id, s.vec_id AS s_vec
    FROM {SEMANTIC_SCHEDULES["lsh"].join}
    WHERE NOT c.is_suite) x),
exactids AS (SELECT DISTINCT vec_id FROM tp),
lshflag AS ({_flagged_sql("lsh")}),
lcaught AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS lsh_n_caught
  FROM lshflag l JOIN exactids e ON e.vec_id = l.vec_id),
j AS (
  SELECT *,
         CAST(candidate_pairs AS DOUBLE)
           / CAST(n_corpus * n_suite AS DOUBLE) AS cand_frac,
         CAST(lsh_n_caught AS DOUBLE)
           / CAST(NULLIF(n_true, 0) AS DOUBLE) AS lsh_recall,
         CAST(lsh_cand_pairs AS DOUBLE)
           / CAST(n_corpus * n_suite AS DOUBLE) AS lsh_frac
  FROM best CROSS JOIN sizes CROSS JOIN nc
  CROSS JOIN lshcand CROSS JOIN lcaught)
SELECT n_cells,
       CAST(k AS INT) AS k_star,
       n_true,
       n_caught,
       recall AS recall_at_k,
       candidate_pairs,
       cand_frac,
       lsh_n_caught,
       lsh_recall,
       lsh_cand_pairs,
       lsh_frac,
       n_corpus * n_suite AS exact_pairs,
       CASE WHEN (CASE WHEN lsh_recall >= {SEMANTIC_RECALL_TARGET}
                        AND lsh_frac < cand_frac
                   THEN lsh_frac ELSE cand_frac END)
                 >= {SEMANTIC_EXACT_CUTOVER}
            THEN 'exact_screen'
            WHEN lsh_recall >= {SEMANTIC_RECALL_TARGET}
             AND lsh_frac < cand_frac
            THEN 'lsh_bands'
            ELSE 'topk_probe' END AS action
FROM j
"""


QUERIES["semantic_screen_policy"] = semantic_screen_policy
ORACLES["semantic_screen_policy"] = SEMANTIC_POLICY_SQL


# Policy action -> the CONCRETE deployment artifacts, the
# BandedFamily.dispatch convention transplanted to the semantic screen:
# batch/incremental/suite_refresh are the action's schedule's registry
# forms, stream names a callable in streaming.jobs (the recallk stream's
# k=None IS the exact screen), actuator entries are (function, call-args
# string) — the seam a deployment calls to reconfigure.
# semantic_screen_artifacts() is the tested accessor.
SEMANTIC_SCREEN_DISPATCH = {
    action: {"policy": "semantic_screen_policy",
             **SEMANTIC_SCHEDULES[schedule].forms,
             "stream": stream, "actuator": actuator}
    for action, schedule, stream, actuator in (
        ("topk_probe", "topk", "stream_semantic_recallk_decontaminate",
         ("_suite_probe_expansion", "suite, cents, k=SEMANTIC_PROBE_K")),
        ("exact_screen", "exact", "stream_semantic_recallk_decontaminate",
         ("_suite_probe_expansion", "suite, cents, k=None")),
        ("lsh_bands", "lsh", "stream_semantic_lsh_decontaminate",
         ("_lsh_sign_frame", "spark, frame, dim")),
    )
}


def semantic_screen_artifacts(action: str) -> dict:
    """The deployment recipe for a semantic_screen_policy decision —
    saturation_remedy_artifacts' role for the screen family: the policy
    query that prices the corpus, the batch + incremental registry
    queries to deploy, the streaming twin, and the actuator seam.
    Every name is pinned resolvable by pytest so the citation can't
    drift from the registry."""
    if action not in SEMANTIC_SCREEN_DISPATCH:
        raise ValueError(f"unknown semantic screen action: {action!r}")
    return {"action": action, **SEMANTIC_SCREEN_DISPATCH[action]}


def _multisuite_flagged_embeddings(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """(vec_id, label, v, nrm, suite): normed embeddings under the SAME
    suite-slice membership as the lexical multi-suite screens
    (key_hash % SUITE_SLICE_MOD), so an entity's text and embedding
    representations agree on which benchmark battery it belongs to."""
    return _suite_slice(_normed_embeddings(spark, sf_dir), "vec_id")


def _embedding_suite_hits(spark: SparkSession, sf_dir: str,
                          with_phase: bool) -> DataFrame:
    """The shared body of the batch and incremental embedding
    multi-suite screens: ONE broadcast join of the corpus against all
    suites' vectors in the same coarse cell, ONE conditional aggregate
    with a per-suite hit column. Because the suites are disjoint, the
    incremental form's two growth events decompose exactly onto these
    columns — ingest (incoming x all suites) and backfill (existing x
    the NEW suite, prior old-suite columns recomputed as the
    deterministic stand-in) — so the incremental output IS the batch
    output plus the phase label, computed in the SAME single-join plan
    (the strip-spans collapse)."""
    n = _multisuite_flagged_embeddings(spark, sf_dir)
    suites = (n.filter(F.col("suite") < N_BENCH_SUITES)
              .select(F.col("suite").alias("s_suite"),
                      F.col("label").alias("s_label"),
                      F.col("v").alias("sv"),
                      F.col("nrm").alias("snrm")))
    return semantic_multisuite_frame(
        n.filter(F.col("suite") >= N_BENCH_SUITES), suites,
        with_phase).orderBy("vec_id")


def semantic_multisuite_frame(corpus: DataFrame, suites: DataFrame,
                              with_phase: bool = False) -> DataFrame:
    """Shared verdict body of the embedding multi-suite screen — corpus
    vectors (vec_id, label, v, nrm) against suite vectors (s_suite,
    s_label, sv, snrm): one broadcast same-cell join, one conditional
    aggregate with a per-suite hit column, for the batch, incremental
    and streaming forms."""
    scored = (
        corpus.join(F.broadcast(suites),
                    F.col("label") == F.col("s_label"), "left")
        .select("vec_id", "s_suite",
                F.when(F.col("snrm").isNotNull(),
                       F.expr(_SV_DOT) / (F.col("nrm") * F.col("snrm")))
                .alias("cosine")))
    cols = [f"n_hits_suite{k}" for k in range(N_BENCH_SUITES)]
    agg = (
        scored.groupBy("vec_id")
        .agg(*[F.sum(F.when(
            (F.col("s_suite") == k)
            & (F.col("cosine") >= SEMANTIC_COSINE_THRESHOLD),
            1).otherwise(0)).cast("long").alias(cols[k])
            for k in range(N_BENCH_SUITES)]))
    any_pred = " OR ".join(f"{c} >= 1" for c in cols)
    phase = ([f"CASE WHEN vec_id % {INCREMENTAL_MOD} >= "
              f"{INCREMENTAL_NEW} THEN 'ingest' ELSE 'backfill' END"
              " AS phase"] if with_phase else [])
    return agg.selectExpr("vec_id", *phase, *cols,
                          f"{any_pred} AS contaminated")


def decontaminate_embedding_multisuite(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """decontaminate_multi_suite's per-suite attribution on the
    SEMANTIC side: which benchmark battery member does this training
    entity's embedding sit near — the column an exclusion appeal needs
    when the leak is a paraphrase no lexical screen attributes. Suites
    are the same three disjoint hash slices; a corpus vector is
    contaminated when ANY suite has a same-cell vector at cosine >=
    {SEMANTIC_COSINE_THRESHOLD}. One broadcast, one corpus scan, one
    conditional aggregate — no per-suite scans, no pivot shuffle."""
    return _embedding_suite_hits(spark, sf_dir, with_phase=False)


def decontaminate_embedding_multisuite_incremental(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding multi-suite screen's two growth events — ingest
    (incoming batch vs all suites) and backfill (existing corpus vs the
    suite ADDED after the snapshot, suite {NEW_SUITE}; old-suite
    columns are the persisted per-entity artifact, recomputed as the
    deterministic stand-in) — in one phase-labeled output. The suites
    are disjoint, so the decomposed counts recombine exactly onto the
    batch columns: every row is the batch operator's row plus its
    phase, which the path-equivalence pytest pins. Per-ingest cost is
    O(batch x suites), per-backfill O(corpus x new-suite); the
    corpus-wide all-suite re-screen never runs in a deployment — here
    both phases share one plan because the testdata stand-in recomputes
    the persisted artifact."""
    return _embedding_suite_hits(spark, sf_dir, with_phase=True)


def _embedding_multisuite_oracle(with_phase: bool) -> str:
    cols = [f"n_hits_suite{k}" for k in range(N_BENCH_SUITES)]
    sums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN s.suite = {k} AND {H.cosine_sql('c', 's')}"
        f" >= {SEMANTIC_COSINE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {cols[k]}" for k in range(N_BENCH_SUITES))
    any_pred = " OR ".join(f"COALESCE(h.{c}, 0) >= 1" for c in cols)
    phase = (f"CASE WHEN c.vec_id % {INCREMENTAL_MOD} >= "
             f"{INCREMENTAL_NEW} THEN 'ingest' ELSE 'backfill' END"
             " AS phase,\n       " if with_phase else "")
    return f"""
WITH {H.normed_ctes(suite=f"{key_hash('vec_id')} % {SUITE_SLICE_MOD}")},
hits AS (
  SELECT c.vec_id,
         {sums}
  FROM n c JOIN n s ON s.label = c.label
   AND s.suite < {N_BENCH_SUITES}
  WHERE c.suite >= {N_BENCH_SUITES}
  GROUP BY c.vec_id)
SELECT c.vec_id,
       {phase}{", ".join(f"CAST(COALESCE(h.{c}, 0) AS BIGINT) AS {c}"
                         for c in cols)},
       {any_pred} AS contaminated
FROM n c LEFT JOIN hits h ON h.vec_id = c.vec_id
WHERE c.suite >= {N_BENCH_SUITES}
ORDER BY c.vec_id
"""


QUERIES["decontaminate_embedding_multisuite"] = \
    decontaminate_embedding_multisuite
ORACLES["decontaminate_embedding_multisuite"] = \
    _embedding_multisuite_oracle(False)
QUERIES["decontaminate_embedding_multisuite_incremental"] = \
    decontaminate_embedding_multisuite_incremental
ORACLES["decontaminate_embedding_multisuite_incremental"] = \
    _embedding_multisuite_oracle(True)
