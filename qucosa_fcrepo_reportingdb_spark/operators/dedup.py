"""Deduplication operators for large-scale training-data pipelines:
exact (hash-groupBy), MinHash+LSH, SimHash, and exact n-gram Jaccard.

Scale design (100 TB posture):
- Exact dedup is one shuffle on the content hash (map-side partial agg).
- MinHash/SimHash signatures are scan-local map work (pure expression
  trees, whole-stage codegen, zero Python); the LSH band explode produces
  BANDS rows per doc, and the candidate self-join shuffles on the band
  signature — candidates only, never all pairs. This is the standard
  shingle->minhash->band->bucket-join pipeline.
- Exact Jaccard joins on shared shingles — O(pairs that share a shingle),
  with a HAVING floor to cut the long tail before the jaccard division.
- Embedding near-dup blocks on the coarse label (IVF-style) so the pair
  space is per-block, not global.

Every signature is arithmetically defined (functions/hashing.py) so the
DuckDB oracles replicate them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
from qucosa_fcrepo_reportingdb_spark.memo import (
    cut_lineage,
    session_memo,
)
from qucosa_fcrepo_reportingdb_spark.operators.banding import (
    BAND_COLS,
    Layout,
    band_exprs,
    band_join,
    band_rows_sql,
    banded_pairs,
    banded_pairs_sql,
    explode_bands,
)
from qucosa_fcrepo_reportingdb_spark.plans.common import fan_out, t

JACCARD_THRESHOLD = 0.2
COSINE_THRESHOLD = 0.35
HAMMING_MAX = 3
SIMHASH32_BANDS = Layout("contiguous", 4, 32)   # 4 x 8-bit bands
# Document-frequency ceiling for the n-gram inverted index: a shingle
# shared by k docs emits k^2 candidate pairs in the self-join, so
# boilerplate shingles (cookie banners, license headers) would dominate
# the pair space at corpus scale. Shingles above the ceiling are dropped
# from the index AND from the jaccard universe (both engines agree).
SHINGLE_DF_MAX = 128


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on normalized content (lowercased token
    stream): canonical id = min doc_id per group. One hash-shuffle."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            f"md5(concat_ws(' ', {H.tokens('text', 'spark')})) AS content_hash",
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc"),
             F.count(F.lit(1)).alias("n_copies"))
        .orderBy("canonical_doc")
    )


DEDUP_EXACT_SQL = f"""
SELECT md5(coalesce(list_aggregate({H.tokens('text', 'duck')}, 'string_agg', ' '), ''))
         AS content_hash,
       MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY canonical_doc
"""


# ---------------------------------------------------------------------------
# exact n-gram jaccard near-dup
# ---------------------------------------------------------------------------
def shingled_docs(docs: DataFrame, non_empty: bool = False) -> DataFrame:
    """Staged token->hash->shingle projection over any (doc_id, text)
    frame. `non_empty` drops zero-token docs (whose shingle set is empty,
    by shingle_hashes' short-doc fallback). The predicate is applied to
    the CHEAP first stage, never to `sh`: a filter on `sh` gets
    predicate-pushed through the projection chain, and the pushdown
    substitutes the full nested shingle expression (which references its
    inputs many times) into the condition — a measured ~100x expression
    blowup."""
    toks = docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
    if non_empty:
        toks = toks.filter(F.size("toks") > 0)
    return (
        toks.selectExpr("doc_id", f"{H.token_hashes('toks', 'spark')} AS th")
        .selectExpr("doc_id", f"{H.shingle_hashes('th', 'spark')} AS sh")
    )


def _shingled(spark: SparkSession, sf_dir: str,
              non_empty: bool = False) -> DataFrame:
    """(doc_id, sh) view over the shared materialized shingle artifact
    (corpus._bench_shingled) — r16: previously every signature-family
    build (minhash, simhash32, simhash64, the exploded index) re-ran
    its own tokenize+shingle pipeline over the corpus; now one pipeline
    materializes per (session, dataset) and the families derive from
    its blocks. The non-empty filter moves onto the STORED sh column,
    where it is a plain attribute predicate (the pushdown-blowup
    rationale on shingled_docs applies only while sh is an expression),
    and zero shingles <=> zero tokens (short docs fall back to token
    hashes — functions/hashing.shingle_hashes), so the filtered rows
    equal the old token-stage filter's."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        _bench_shingled,
    )
    sh = _bench_shingled(spark, sf_dir).select("doc_id", "sh")
    if non_empty:
        sh = sh.filter(F.size("sh") > 0)
    return sh


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index (doc_id, shingle) shared by the
    jaccard and containment passes.

    explode_OUTER + null-filter, not plain explode: for a non-outer
    Generate, Catalyst's InferFiltersFromGenerate synthesizes
    `size(sh) > 0` and predicate pushdown substitutes the whole nested
    shingle expression into it below the fan-out exchange — single-task,
    ~100x blowup (the same failure mode documented on _shingled). The
    outer variant infers nothing; the null filter on the GENERATED
    column is equivalent and cannot be pushed below the Generate.

    localCheckpoint cuts the lineage so the 4 consuming branches read
    the materialized index instead of re-tokenizing the corpus; swap for
    checkpoint() + setCheckpointDir on a cluster with executor loss in
    scope. Memoized per (session, dataset): jaccard, containment, the
    recall audit, and pagerank all consume it — without the memo a full
    registry sweep re-materializes the corpus-sized index per caller.

    r16: _shingled now reads the shared _bench_shingled artifact (one
    tokenize+shingle pipeline per session across the dedup AND
    contamination families), so this cold build explodes materialized
    blocks instead of re-tokenizing the corpus; rows identical."""
    def build() -> DataFrame:
        sh = _shingled(spark, sf_dir)
        return (sh.select("doc_id", F.explode_outer("sh").alias("s"))
                .filter(F.col("s").isNotNull())
                .transform(cut_lineage))
    return session_memo(spark, ("exploded_shingles", sf_dir), build)


def _hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized hot-shingle list (df > SHINGLE_DF_MAX) over the
    materialized inverted index — index METADATA a deployment persists
    next to the index itself (the df cap is part of the index build,
    not of any one query). r16: the audited jaccard plan ran this
    full-index df shuffle once under EACH consumer of the df-capped
    universe (3x per call — both self-join sides and the sizes
    aggregate inline the anti-join and the aggregate below it);
    materializing the tiny list runs it once per (session, dataset)
    (guide §2.4)."""
    def build() -> DataFrame:
        return (
            _exploded_shingles(spark, sf_dir).groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > SHINGLE_DF_MAX)
            .select("s")
            .transform(cut_lineage)
        )
    return session_memo(spark, ("hot_shingles", sf_dir), build)


def _kept_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per-doc df-capped set sizes (doc_id, n) — the second
    piece of index metadata (|set| per doc over the kept universe; the
    jaccard/containment denominators). The audited plan built it twice
    per call (once per n1/n2 join side), each a full pass over the kept
    index; one doc-sized artifact per (session, dataset) instead
    (guide §2.4)."""
    def build() -> DataFrame:
        exploded = _exploded_shingles(spark, sf_dir)
        kept = exploded.join(
            F.broadcast(_hot_shingles(spark, sf_dir)), "s", "left_anti")
        return (kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
                .transform(cut_lineage))
    return session_memo(spark, ("jaccard_kept_sizes", sf_dir), build)


def df_capped_candidate_pairs(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """(d1, d2, common, n1, n2) candidate pairs over the df-capped
    shingle universe — the machinery shared by jaccard and containment
    (SCALING.md: "same df-capped inverted index, different score only"),
    factored so the hot-shingle cap and anti-join exist exactly once."""
    exploded = _exploded_shingles(spark, sf_dir)
    hot = _hot_shingles(spark, sf_dir)
    kept = exploded.join(F.broadcast(hot), "s", "left_anti")
    sizes = _kept_sizes(spark, sf_dir)
    a = kept.select(F.col("doc_id").alias("d1"), "s")
    b = kept.select(F.col("doc_id").alias("d2"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common
        .join(sizes.select(F.col("doc_id").alias("d1"),
                           F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"),
                           F.col("n").alias("n2")), "d2")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct 3-gram shingles; pairs >= threshold.
    Join on shared shingles (inverted index), never all pairs.

    Scale shape: the hot-shingle list (df > SHINGLE_DF_MAX) is tiny by
    construction, so dropping it is a broadcast anti-join (map-side, no
    second shuffle of the index); the df aggregation itself is map-side
    combinable. Candidate count per shingle is then bounded by
    SHINGLE_DF_MAX^2. Per-doc set sizes are recomputed over the kept
    universe and joined back onto the (much smaller) candidate pairs.

    The exploded inverted index feeds FOUR branches (hot-shingle list,
    sizes, both join sides); without materialization each branch
    re-tokenizes the corpus from parquet — 8 scans in the audited plan.
    localCheckpoint materializes the index once (the artifact a real
    deployment persists anyway), cutting every branch to a shuffle read."""
    return _jaccard_scored_pairs(spark, sf_dir).orderBy("d1", "d2")


def _jaccard_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jaccard pipeline WITHOUT the presentation sort — what the
    materialized pair table persists (a range exchange + sort would be
    pure waste in a handoff artifact consumed by joins/aggregations)."""
    return (
        df_capped_candidate_pairs(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "common", "jaccard")
    )


def jaccard_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once near-duplicate pair table (d1, d2, common,
    jaccard): the DB-as-handoff seam for COMPOSED pipelines
    (ReportingManager.java:56-95 — stage 1 persists, stage 2 consumes).
    keep-canonical, the clean-corpus manifest, pagerank, and the recall
    audit all read the SAME localCheckpoint-materialized pairs instead of
    re-running the candidate join per caller; at 100 TB this is the
    artifact a deployment writes to the table store between stages."""
    def build() -> DataFrame:
        return _jaccard_scored_pairs(spark, sf_dir).transform(cut_lineage)
    return session_memo(spark, ("jaccard_pairs", sf_dir), build)


# The toks..cm candidate CTE chain shared by the jaccard and containment
# oracles — SQL twin of df_capped_candidate_pairs.
_CANDIDATE_CTES = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shl),
hot AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > {SHINGLE_DF_MAX}),
kept AS (SELECT doc_id, s FROM ex WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
cm AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)"""

DEDUP_JACCARD_SQL = f"""
{_CANDIDATE_CTES}
SELECT d1, d2, common,
       CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) AS jaccard
FROM cm JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle -> minhash signature -> band -> bucket-join candidates ->
    verify with exact Jaccard. Output: verified pairs with their jaccard.
    At scale the bucket-join shuffles only band signatures (BANDS rows per
    doc), so the pair space never materializes.

    Empty docs (zero shingles) are filtered before banding: minhash over
    an empty array is NULL, and the engines disagree on NULL concat
    (Spark concat_ws drops NULLs -> all empty docs collide in one bucket;
    DuckDB || yields NULL) — filtering is the consistent semantics. The
    filter runs on the token stage (zero shingles <=> zero tokens), not on
    `sh` — see shingled_docs for the pushdown-blowup rationale.

    The shingled frame feeds THREE consumers (banding + both verify-side
    joins); it is memoized per (session, dataset) as a lazy non-empty
    view over the shared _bench_shingled artifact (r16, see _shingled —
    one tokenize+shingle pipeline per session across the dedup and
    contamination families, and no second corpus-sized checkpoint
    copy: the view filters the artifact's blocks per consumer)."""
    sh = session_memo(spark, ("shingled_nonempty", sf_dir),
                      lambda: _shingled(spark, sf_dir, non_empty=True))
    # r16: the band join probes the memoized LSH index instead of
    # recomputing the N_PERM minhash fold per call (minhash_band_table)
    return _minhash_pairs_from_bands(minhash_band_table(spark, sf_dir), sh)


def band_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) -> (doc_id, band_idx, signature): the LSH banding
    stage, shared by the batch query and the streaming incremental job.

    Deliberately does NOT carry `sh` through: the band join downstream
    shuffles these rows LSH_BANDS times per document, so every extra
    column here multiplies the dominant shuffle's payload by the corpus
    shingle volume. Shingle sets are re-joined onto the (small) deduped
    candidate set for the exact-Jaccard verify instead — the same
    signature-only shape the simhash operator uses."""
    params = H.minhash_params()
    mh = sh.selectExpr(
        "doc_id",
        *[f"{H.minhash('sh', a, b, 'spark')} AS m{j}"
          for j, (a, b) in enumerate(params)],
    )
    mcols = [f"m{j}" for j in range(H.N_PERM)]
    return mh.selectExpr(
        "doc_id",
        *[f"{H.lsh_band(mcols, bi, 'spark')} AS band{bi}"
          for bi in range(H.LSH_BANDS)],
    ).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{bi}")
                               for bi in range(H.LSH_BANDS)]))
        .alias("band_idx", "signature"),
    )


def join_shingles_onto_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach (sh1, sh2) to a (d1, d2) pair table by joining the
    (doc_id -> sh) map twice. The pair table is candidate-sized, so AQE
    downgrades each join to broadcast-hash when it is small; even as a
    shuffle join this moves at most 2x the shingle volume — versus the
    LSH_BANDS x payload a band join carrying `sh` on both sides would."""
    sh1 = sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sh2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    return pairs.join(sh1, "d1").join(sh2, "d2")


def verified_jaccard_pairs(candidates: DataFrame) -> DataFrame:
    """(d1, d2, sh1, sh2) candidates -> exact-Jaccard-verified pairs."""
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        candidates
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
        .orderBy("d1", "d2")
    )


def minhash_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized LSH band index (doc_id, band_idx, signature) — the
    minhash family's signature artifact, closing the one gap in the
    per-family convention (_phash_signatures, _afp_signatures,
    _vfp_signatures, _simhash64_signatures all memoize their signature
    stage; minhash recomputed N_PERM minhashes per call). This is
    exactly the index the incremental form's docstring describes a
    deployment persisting ("the steady-state join probes precomputed
    buckets"); the N_PERM-permutation fold over every shingle array is
    the family's dominant map cost (r16, guide §2.4)."""
    def build() -> DataFrame:
        sh = session_memo(spark, ("shingled_nonempty", sf_dir),
                          lambda: _shingled(spark, sf_dir, non_empty=True))
        return band_signatures(sh).transform(cut_lineage)
    return session_memo(spark, ("minhash_bands", sf_dir), build)


def minhash_pairs_from_shingles(sh: DataFrame) -> DataFrame:
    """Band join on (doc_id, band_idx, signature) ONLY — candidate ids
    first, shingles re-joined after dedup. The former shape carried both
    docs' full shingle arrays through the band shuffle (LSH_BANDS x the
    corpus shingle volume — the dominant cost at scale); pinned by
    tests/test_plans.py::test_minhash_band_exchange_carries_no_shingles."""
    return _minhash_pairs_from_bands(band_signatures(sh), sh)


def _minhash_pairs_from_bands(bands: DataFrame, sh: DataFrame) -> DataFrame:
    """Candidate join + exact-Jaccard verify over an already-built band
    index — shared by the stateless form above and the memoized-index
    batch query (r16)."""
    a = bands.select(F.col("doc_id").alias("d1"), "band_idx", "signature")
    b = bands.select(F.col("doc_id").alias("d2"), "band_idx", "signature")
    cand_ids = (
        a.join(b, ["band_idx", "signature"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    return verified_jaccard_pairs(join_shingles_onto_pairs(cand_ids, sh))


def _minhash_lsh_oracle() -> str:
    params = H.minhash_params()
    mh_cols = ",\n       ".join(
        f"{H.minhash('sh', a, b, 'duck')} AS m{j}"
        for j, (a, b) in enumerate(params))
    mcols = [f"m{j}" for j in range(H.N_PERM)]
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, sh, {bi} AS band_idx, "
        f"{H.lsh_band(mcols, bi, 'duck')} AS signature FROM mh"
        for bi in range(H.LSH_BANDS))
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT * FROM (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh
                       FROM th) WHERE len(sh) > 0),
mh AS (SELECT doc_id, sh,
       {mh_cols}
       FROM shl),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.signature = b.signature
   AND a.doc_id < b.doc_id),
verified AS (
  SELECT d1, d2,
         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
                AS DOUBLE) AS jaccard
  FROM cand JOIN shl x ON x.doc_id = d1 JOIN shl y ON y.doc_id = d2)
SELECT d1, d2, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash over shingle hashes (shingles discriminate much
    better than raw tokens on correlated vocabularies); candidates block on
    any equal 8-bit band — by pigeonhole a pair within hamming distance 3
    must agree on at least one of the 4 bands — then verify exact hamming.

    SCALE CAP (the birthday-regime analysis, SCALING.md round 8 cont. 7):
    an 8-bit band has only 256 values, so bucket occupancy — and with it
    quadratic candidate growth — arrives ~60x earlier than for the
    56-bit families (and 2-of-5 band pairs over 32 bits would only reach
    ~2^13 keys). Simhash is therefore the COARSE prefilter in this
    registry; the precise text paths are MinHash LSH (hash-valued band
    keys, no birthday cap) and df-capped n-gram Jaccard. A deployment
    needing simhash past ~10^5 docs widens the sketch (64-bit) before it
    re-bands — the phash_blocking_scheme_audit pattern then applies."""
    return _sig_pairs(_simhash32_signatures(spark, sf_dir), "simhash",
                      SIMHASH32_BANDS, HAMMING_MAX)


def _simhash_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
sim AS (SELECT doc_id, {H.simhash('sh', 'duck')} AS simhash FROM shl),
{banded_pairs_sql('sim', 'simhash', SIMHASH32_BANDS)}
{_verified_sql(HAMMING_MAX)}"""


def _verified_sql(hamming_max: int, names=("d1", "d2")) -> str:
    """The verified-pair SELECT over a banded_pairs_sql ``cand``."""
    ham = H.hamming("s1", "s2", "duck")
    return (f"SELECT d1 AS {names[0]}, d2 AS {names[1]}, {ham} AS hamming\n"
            f"FROM cand WHERE {ham} <= {hamming_max}\n"
            f"ORDER BY {names[0]}, {names[1]}\n")


# ---------------------------------------------------------------------------
# embedding cosine near-dup (IVF-style label blocking)
# ---------------------------------------------------------------------------
def normed_embedding_frame(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, label) -> (vec_id, label, v, nrm) over any
    frame — the normalization seam the streaming semantic screen signs
    each microbatch with; bit-identical to the batch table's expression
    (sequential left-folds, so both engines produce identical doubles).
    Zero-norm vectors have no cosine direction: excluded HERE (and in
    every oracle's nrm CTE) — under ANSI Spark the 0/0 division
    otherwise aborts the job, and DuckDB would NULL it instead."""
    return emb.selectExpr(
        "vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
    ).selectExpr(
        "vec_id", "label", "v",
        "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + x)) AS nrm",
    ).filter("nrm > 0")


def _normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with double-cast vector and precomputed norm."""
    return normed_embedding_frame(t(spark, sf_dir, "embeddings"))


_DOT = H.dot("a.v", "b.v", "spark")


# Pair-space salt: the block id (label) has LOW cardinality by design —
# an equi-join on label alone caps parallelism at n_cells tasks and puts
# a whole cell's O(|cell|^2) pair space on one task. Salting side A by a
# hash of its key and replicating side B SALT x spreads each cell's pair
# space over SALT tasks; the result set is unchanged because each (a, b)
# pair appears for exactly one salt value (A's). B's shuffle volume grows
# SALT x — the standard, tunable price for skew spreading.
COSINE_SALT = 8


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by embedding cosine within the same coarse
    block (label = IVF cell): pair space is per-block, not global.

    Plan shape: shuffle equi-join on (cell id, salt) — no corpus-wide
    broadcast, no sort over vectors, parallelism n_cells * COSINE_SALT
    regardless of cell skew. This is the only self-join shape that
    survives an unbounded corpus: broadcasting either side pins the whole
    table in every executor."""
    return (
        _blocked_cosine_scored(spark, sf_dir)
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("v1", "v2")
    )


def _blocked_cosine_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted blocked self-join WITHOUT the threshold filter — the
    scored within-block pair stream shared by dedup_embedding_cosine
    and the cosine threshold sweep (which must see sub-threshold pairs
    to sweep them).

    The (label, salt) exchanges are EXPLICIT repartitions to the
    session's shuffle parallelism, not ENSURE_REQUIREMENTS exchanges
    (r15): this stage's cost is the quadratic per-cell pair scoring, not
    its bytes — vectors are narrow, so AQE's byte-based partition
    coalescing (1 MB min-size floor) squeezed the dot-product stage onto
    6 of 32 cores at sf0.1 (measured 2.2 s -> 1.2 s with the pin). The
    same starvation recurs at any scale where candidate volume per byte
    is high; an explicit REPARTITION_BY_NUM is the one shuffle origin
    AQE never coalesces, and the join reuses it (same keys, same count)
    so the exchange count is unchanged. Salting already spreads skew, so
    losing AQE's skew-split on this join costs nothing."""
    n = _normed_embeddings(spark, sf_dir)
    # some platforms set this conf to a non-integer (e.g. "auto" under
    # auto-optimized shuffle); fall back to the cluster parallelism
    try:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        par = spark.sparkContext.defaultParallelism
    a = (n.withColumn(
        "salt", F.pmod(F.hash("vec_id"), F.lit(COSINE_SALT)))
        .repartition(par, "label", "salt").alias("a"))
    b = (n.withColumn("salt", F.explode(
             F.sequence(F.lit(0), F.lit(COSINE_SALT - 1))))
         .repartition(par, "label", "salt")
         .alias("b"))
    return (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.label") == F.col("b.label"))
              & (F.col("a.salt") == F.col("b.salt"))
              & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            (F.expr(_DOT) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
    )


def cosine_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once embedding-cosine pair table — the semantic-side
    handoff artifact, mirroring jaccard_pair_table: the agreement audit
    (and any future composed consumer) reads the localCheckpoint instead
    of re-running the salted blocked self-join per caller."""
    def build() -> DataFrame:
        return dedup_embedding_cosine(spark, sf_dir).transform(cut_lineage)
    return session_memo(spark, ("cosine_pairs", sf_dir), build)


DEDUP_COSINE_SQL = f"""
WITH {H.normed_ctes()}
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {H.cosine_sql('a', 'b')} AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {H.cosine_sql('a', 'b')} >= {COSINE_THRESHOLD}
ORDER BY v1, v2
"""


# ---------------------------------------------------------------------------
# shingle containment (asymmetric near-dup: quotes / subset documents)
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by max-containment over distinct 3-gram shingles:
    common / least(n1, n2). Jaccard misses the short-doc-quoted-inside-
    long-doc case (the union term drowns the overlap); containment is the
    standard complement a curation pass runs alongside it.

    Same scale machinery as dedup_ngram_jaccard — df-capped inverted
    index (broadcast anti-join of the provably-tiny hot-shingle list,
    materialized once via _exploded_shingles), candidate pairs bounded by
    SHINGLE_DF_MAX^2 per shingle, sizes joined back onto candidates
    only."""
    return (
        df_capped_candidate_pairs(spark, sf_dir)
        .withColumn(
            "containment",
            F.col("common").cast("double")
            / F.least("n1", "n2").cast("double"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("d1", "d2", "common", "n1", "n2", "containment")
        .orderBy("d1", "d2")
    )


DEDUP_CONTAINMENT_SQL = f"""
{_CANDIDATE_CTES}
SELECT d1, d2, common, x.n AS n1, y.n AS n2,
       CAST(common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE)
         AS containment
FROM cm JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
WHERE CAST(common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE)
      >= {CONTAINMENT_THRESHOLD}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster representatives (Abbas et al. 2023)
# ---------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.35


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdict per vector: within each coarse cluster (label =
    IVF cell), keep the vector closest to the EXACT cell centroid as the
    representative and drop every other member whose cosine to that
    representative is >= {SEMDEDUP_THRESHOLD}. This is the
    cluster-then-prune semantic dedup from the SemDeDup paper — unlike
    dedup_embedding_cosine it never enumerates a pair space at all.

    Scale shape: the centroid is the split-integer exact mean from
    plans/advanced.ivf_centroids (one keyed map-side-combinable shuffle,
    constant per-group state), assembled to an ordered array per cell —
    n_cells x dims values, a provably-tiny table that is explicitly
    broadcast for both the centroid-cosine and the keeper-cosine joins.
    Keeper selection is row_number over label (WindowGroupLimit, K=1
    state). Per-member work is a scan-local sequential fold — the same
    deterministic left-fold both engines evaluate bit-identically, so
    keeper choice and verdicts agree exactly with the DuckDB oracle."""
    from qucosa_fcrepo_reportingdb_spark.plans.advanced import ivf_centroids

    n = fan_out(_normed_embeddings(spark, sf_dir), "vec_id")
    cent = ivf_centroids(spark, sf_dir)  # label, dim, centroid_val
    carr = (
        cent.groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(dim, centroid_val))),"
            " s -> s.centroid_val)").alias("c"))
        .selectExpr(
            "label", "c",
            "sqrt(aggregate(transform(c, x -> x * x), CAST(0 AS DOUBLE),"
            " (acc, x) -> acc + x)) AS cnrm")
    )
    scored = (
        n.alias("a")
        .join(F.broadcast(carr.alias("c")), "label")
        .select(
            "label", "vec_id", F.col("a.v").alias("v"),
            F.col("a.nrm").alias("nrm"),
            (F.expr(H.dot("a.v", "c.c", "spark"))
             / (F.col("a.nrm") * F.col("c.cnrm"))).alias("cos_centroid"),
        )
        # both the keeper branch and the verdict join consume scored;
        # materialize once instead of re-scanning + re-folding the corpus
        .transform(cut_lineage)
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_centroid").desc(), F.col("vec_id"))
    keepers = (
        scored.withColumn("r", F.row_number().over(w)).filter("r = 1")
        .select("label", F.col("vec_id").alias("keeper_id"),
                F.col("v").alias("kv"), F.col("nrm").alias("knrm"))
    )
    return (
        scored.alias("s")
        .join(F.broadcast(keepers.alias("k")), "label")
        .select(
            "vec_id", "label", "cos_centroid", "keeper_id",
            (F.expr(H.dot("s.v", "k.kv", "spark"))
             / (F.col("s.nrm") * F.col("k.knrm"))).alias("cos_keeper"),
        )
        .withColumn(
            "keep",
            F.when((F.col("vec_id") == F.col("keeper_id"))
                   | (F.col("cos_keeper") < F.lit(SEMDEDUP_THRESHOLD)),
                   F.lit(1)).otherwise(F.lit(0)).cast("long"),
        )
        .orderBy("vec_id")
    )


# The centroid CTEs mirror plans/advanced.IVF_CENTROIDS_SQL's exact
# split-integer mean so the array values are bit-identical to Spark's.
SEMDEDUP_SQL = f"""
WITH {H.normed_ctes()},
split AS (
  SELECT label, CAST(u.i - 1 AS INT) AS dim,
         CAST(CAST(floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0) AS BIGINT)
              AS DECIMAL(38,0)) AS hi,
         CAST(CAST(floor((CAST(u.x AS DOUBLE) * {2 ** 22}.0
                          - floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0))
                         * {2 ** 58}.0) AS BIGINT) AS DECIMAL(38,0)) AS lo
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) u),
cent AS (
  SELECT label, dim,
         (CAST(CAST(SUM(hi) AS VARCHAR) AS DOUBLE) * {2 ** 58}.0
          + CAST(CAST(SUM(lo) AS VARCHAR) AS DOUBLE))
           / {2 ** 80}.0 / CAST(COUNT(*) AS DOUBLE) AS centroid_val
  FROM split GROUP BY label, dim),
carr AS (
  SELECT label, list(centroid_val ORDER BY dim) AS c FROM cent
  GROUP BY label),
cn AS (
  SELECT label, c,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(c, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
  FROM carr),
scored AS (
  SELECT n.vec_id, n.label, n.v, n.nrm,
         {H.dot('n.v', 'cn.c', 'duck')} / (n.nrm * cn.cnrm) AS cos_centroid
  FROM n JOIN cn USING (label)),
keeper AS (
  SELECT label, vec_id AS keeper_id, v AS kv, nrm AS knrm
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                  ORDER BY cos_centroid DESC, vec_id) AS r FROM scored)
  WHERE r = 1)
SELECT s.vec_id, s.label, s.cos_centroid, k.keeper_id,
       {H.dot('s.v', 'k.kv', 'duck')} / (s.nrm * k.knrm) AS cos_keeper,
       CAST(CASE WHEN s.vec_id = k.keeper_id
                   OR {H.dot('s.v', 'k.kv', 'duck')} / (s.nrm * k.knrm)
                      < {SEMDEDUP_THRESHOLD}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored s JOIN keeper k USING (label)
ORDER BY s.vec_id
"""


# ---------------------------------------------------------------------------
# shared-substring detection (exact substring dedup, candidate stage)
# ---------------------------------------------------------------------------
SUBSTR_WINDOW = 16   # tokens per rolling window
SUBSTR_TOP_K = 100


def dedup_shared_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate stage of EXACT substring dedup (the training-data pass
    that removes verbatim spans repeated across documents, as opposed to
    whole-doc near-dup): every SUBSTR_WINDOW-token rolling window is
    hashed; windows occurring in >= 2 distinct documents are the shared
    substrings, reported most-widespread first. A removal pass would join
    these hashes back to (doc, position) spans.

    Scale shape: window hashing is scan-local expression work (aggregate
    over a 16-element slice per position, whole-stage codegen); the only
    shuffle is one map-side-combinable aggregation on the window hash;
    the final top-K is TakeOrderedAndProject. O(total tokens) exploded
    rows — the same budget as the shingle pipelines."""
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    k = SUBSTR_WINDOW
    wh = (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr("doc_id", f"{H.token_hashes('toks', 'spark')} AS th")
        .selectExpr(
            "doc_id",
            # CASE guard: <k-token docs contribute no windows (and the
            # descending-sequence trap never fires)
            f"explode_outer(CASE WHEN size(th) >= {k} THEN "
            f"transform(sequence(1, size(th) - {k - 1}), i -> "
            f"aggregate(slice(th, i, {k}), CAST(0 AS BIGINT), "
            f"(acc, x) -> (acc * 31 + x) % {H.P})) "
            f"ELSE array() END) AS window_hash",
        )
        .filter(F.col("window_hash").isNotNull())
    )
    return (
        wh.groupBy("window_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(),
                 F.col("window_hash"))
        .limit(SUBSTR_TOP_K)
    )


SHARED_SUBSTRINGS_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
wh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(th) >= {SUBSTR_WINDOW} THEN
           list_transform(range(1, len(th) - {SUBSTR_WINDOW - 2}), i ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                                      th[i:i + {SUBSTR_WINDOW - 1}]),
                         (acc, x) -> (acc * 31 + x) % {H.P}))
           ELSE [] END) AS window_hash
  FROM th)
SELECT window_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM wh
GROUP BY window_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, window_hash
LIMIT {SUBSTR_TOP_K}
"""


def strip_shared_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass that consumes dedup_shared_substrings: for every
    document, count the token positions covered by any flagged window
    (overlapping windows merge via DISTINCT positions, so a repeated span
    is not double-counted) and report kept/removed token budgets — the
    accounting a span-removal writer applies before re-emitting text.

    Scale shape: the flagged set is top-K (bounded) -> broadcast; the
    corpus side re-derives window hashes scan-locally and the only
    shuffles are the per-doc DISTINCT/aggregate on doc_id. Cost is one
    corpus scan regardless of corpus size."""
    k = SUBSTR_WINDOW
    docs = fan_out(t(spark, sf_dir, "documents"), "doc_id")
    th = (
        docs.selectExpr("doc_id", f"{H.tokens('text', 'spark')} AS toks")
        .selectExpr("doc_id", f"{H.token_hashes('toks', 'spark')} AS th")
    )
    wpos = (
        th.selectExpr(
            "doc_id", "size(th) AS n_tokens",
            f"CASE WHEN size(th) >= {k} THEN "
            f"transform(sequence(1, size(th) - {k - 1}), i -> "
            f"aggregate(slice(th, i, {k}), CAST(0 AS BIGINT), "
            f"(acc, x) -> (acc * 31 + x) % {H.P})) "
            f"ELSE array() END AS whs",
        )
        .selectExpr("doc_id", "n_tokens",
                    "posexplode_outer(whs) AS (pos, window_hash)")
    )
    flagged = dedup_shared_substrings(spark, sf_dir).select("window_hash")
    covered = (
        wpos.filter(F.col("window_hash").isNotNull())
        .join(F.broadcast(flagged), "window_hash")
        # pos is 0-based; token positions are 1-based -> window covers
        # [pos + 1, pos + k]
        .selectExpr("doc_id", f"explode(sequence(pos + 1, pos + {k})) "
                              "AS tokpos")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens_removed"))
    )
    base = th.selectExpr("doc_id", "CAST(size(th) AS BIGINT) AS n_tokens")
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_tokens_removed", F.lit(0)).cast("long")
            .alias("n_tokens_removed"),
            (F.col("n_tokens")
             - F.coalesce("n_tokens_removed", F.lit(0))).cast("long")
            .alias("n_tokens_kept"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(F.coalesce("n_tokens_removed", F.lit(0))
                       .cast("double")
                       / F.col("n_tokens").cast("double"))
            .alias("removed_ratio"),
        )
        .orderBy("doc_id")
    )


STRIP_SUBSTRINGS_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
wpos AS (
  SELECT t.doc_id, CAST(u.i AS BIGINT) AS start,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                                  t.th[u.i:u.i + {SUBSTR_WINDOW - 1}]),
                     (acc, x) -> (acc * 31 + x) % {H.P}) AS window_hash
  FROM th t,
       LATERAL (SELECT unnest(range(1,
          greatest(len(t.th) - {SUBSTR_WINDOW - 2}, 1))) AS i) u
  WHERE len(t.th) >= {SUBSTR_WINDOW}),
flagged AS (SELECT window_hash FROM ({SHARED_SUBSTRINGS_SQL}) x),
covered AS (
  SELECT DISTINCT doc_id, tokpos FROM (
    SELECT w.doc_id,
           unnest(range(w.start, w.start + {SUBSTR_WINDOW})) AS tokpos
    FROM wpos w JOIN flagged f USING (window_hash)) c),
removed AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_removed
  FROM covered GROUP BY doc_id),
base AS (SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens FROM th)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(r.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed,
       CAST(b.n_tokens - COALESCE(r.n_tokens_removed, 0) AS BIGINT)
         AS n_tokens_kept,
       CASE WHEN b.n_tokens = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(COALESCE(r.n_tokens_removed, 0) AS DOUBLE)
                 / CAST(b.n_tokens AS DOUBLE) END AS removed_ratio
FROM base b LEFT JOIN removed r ON r.doc_id = b.doc_id
ORDER BY b.doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_shared_substrings": dedup_shared_substrings,
    "strip_shared_substrings": strip_shared_substrings,
    "semdedup_keep": semdedup_keep,
    "dedup_containment": dedup_containment,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    "dedup_minhash_lsh": _minhash_lsh_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_embedding_cosine": DEDUP_COSINE_SQL,
    "dedup_shared_substrings": SHARED_SUBSTRINGS_SQL,
    "strip_shared_substrings": STRIP_SUBSTRINGS_SQL,
    "semdedup_keep": SEMDEDUP_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
}


# ---------------------------------------------------------------------------
# LSH recall audit (parameter-tuning report for the banding scheme)
# ---------------------------------------------------------------------------
def minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many of the exact near-duplicate pairs does the banded
    MinHash pipeline actually surface? One row: exact-pair count
    (inverted-index jaccard, df-capped universe), LSH-verified pair
    count (full-set jaccard over banded candidates), the overlap, and
    recall — the number that decides whether N_PERM/LSH_BANDS need
    raising before a production dedup run trusts the sketch. The two
    jaccard universes differ deliberately (the index drops hot
    boilerplate shingles; the verifier uses full sets), so the audit
    also surfaces pairs only one side sees.

    Scale shape: both inputs are the existing candidates-only pipelines;
    the audit adds one full-outer join on the (small) pair sets and a
    1-row rollup."""
    exact = (jaccard_pair_table(spark, sf_dir)
             .select("d1", "d2", F.lit(1).alias("in_exact")))
    lsh = (dedup_minhash_lsh(spark, sf_dir)
           .select("d1", "d2", F.lit(1).alias("in_lsh")))
    return (
        exact.join(lsh, ["d1", "d2"], "full_outer")
        .agg(F.count("in_exact").cast("long").alias("n_exact"),
             F.count("in_lsh").cast("long").alias("n_lsh"),
             F.coalesce(
                 F.sum(F.when(F.col("in_exact").isNotNull()
                              & F.col("in_lsh").isNotNull(), 1)
                       .otherwise(0)),
                 F.lit(0)).cast("long").alias("n_both"))
        # counts (not sums) so empty sides read 0 like the oracle's
        # COUNT; recall is NULL (not a 0/0 ANSI error) with no exact set
        .selectExpr("n_exact", "n_lsh", "n_both",
                    "CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE) "
                    "ELSE CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)"
                    " END AS recall")
    )


def _recall_audit_oracle() -> str:
    return f"""
WITH exact_pairs AS (
  SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL.replace(';', '')}) ),
lsh_pairs AS (
  SELECT d1, d2 FROM ({_minhash_lsh_oracle().replace(';', '')}) )
SELECT CAST(COUNT(e.d1) AS BIGINT) AS n_exact,
       CAST(COUNT(l.d1) AS BIGINT) AS n_lsh,
       CAST(COUNT(CASE WHEN e.d1 IS NOT NULL AND l.d1 IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_both,
       CASE WHEN COUNT(e.d1) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(COUNT(CASE WHEN e.d1 IS NOT NULL
                                 AND l.d1 IS NOT NULL
                            THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(e.d1) AS DOUBLE)
       END AS recall
FROM exact_pairs e FULL OUTER JOIN lsh_pairs l
  ON e.d1 = l.d1 AND e.d2 = l.d2
"""


QUERIES["minhash_recall_audit"] = minhash_recall_audit
ORACLES["minhash_recall_audit"] = _recall_audit_oracle()


# ---------------------------------------------------------------------------
# df-cap recall audit (what does SHINGLE_DF_MAX actually cost?)
# ---------------------------------------------------------------------------
def uncapped_jaccard_pairs(spark: SparkSession, sf_dir: str,
                           doc_pred: str | None = None) -> DataFrame:
    """Ground-truth near-duplicate pairs over the FULL shingle universe —
    no SHINGLE_DF_MAX anti-join, per-doc set sizes over all shingles.
    AUDIT BASELINE ONLY: the self-join fan-out is df^2 per shingle with
    no ceiling, so this is bounded-corpus machinery (the role
    ann_bruteforce_topk plays for ANN), never the deployment path.
    ``doc_pred`` (SQL over doc_id) restricts the universe BEFORE the
    self-join — the sampling hook corpus.jaccard_cap_recall_audit_sampled
    uses to bound the fan-out at production scale."""
    exploded = _exploded_shingles(spark, sf_dir)
    if doc_pred is not None:
        exploded = exploded.filter(F.expr(doc_pred))
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = exploded.select(F.col("doc_id").alias("d1"), "s")
    b = exploded.select(F.col("doc_id").alias("d2"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.select(F.col("doc_id").alias("d1"),
                           F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"),
                           F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2")
    )


def uncapped_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once ground-truth (d1, d2) pair set over the full
    shingle universe — the audit-only baseline shared by
    jaccard_cap_recall_audit and lsh_banding_sweep. Memoized and
    lineage-cut like jaccard_pair_table: the two audits (and a sweep's
    three configs) read the checkpointed pair rows instead of each
    re-running the uncapped self-join, the widest subtree in either
    plan."""
    def build() -> DataFrame:
        return uncapped_jaccard_pairs(spark, sf_dir).transform(cut_lineage)
    return session_memo(spark, ("uncapped_pairs", sf_dir), build)


def jaccard_cap_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall cost of the SHINGLE_DF_MAX cap: the capped pair
    table (what keep-canonical, the manifest, pagerank, triangles,
    k-core, containment and the sample weights all consume) versus
    ground-truth pairs over the UNCAPPED shingle universe. One row:
    n_true (uncapped jaccard >= threshold), n_capped (pair-table rows),
    n_both, n_missed, recall — the number that decides whether the cap
    needs tiering before a production run trusts the pair table. A pair
    can be missed two ways, both counted: its shared shingles were all
    hot (never a candidate), or the capped-universe jaccard fell below
    the threshold the uncapped one clears.

    Scale shape: the capped side is the memoized pair table; the
    uncapped side is audit-only (see uncapped_jaccard_pairs) and runs on
    a bounded corpus — at 100 TB the audit samples, it never sweeps."""
    true_pairs = (uncapped_pair_table(spark, sf_dir)
                  .select("d1", "d2", F.lit(1).alias("in_true")))
    capped = (jaccard_pair_table(spark, sf_dir)
              .select("d1", "d2", F.lit(1).alias("in_capped")))
    return (
        true_pairs.join(capped, ["d1", "d2"], "full_outer")
        .agg(F.count("in_true").cast("long").alias("n_true"),
             F.count("in_capped").cast("long").alias("n_capped"),
             F.coalesce(
                 F.sum(F.when(F.col("in_true").isNotNull()
                              & F.col("in_capped").isNotNull(), 1)
                       .otherwise(0)),
                 F.lit(0)).cast("long").alias("n_both"))
        .selectExpr("n_true", "n_capped", "n_both",
                    "n_true - n_both AS n_missed",
                    "CASE WHEN n_true = 0 THEN CAST(NULL AS DOUBLE) "
                    "ELSE CAST(n_both AS DOUBLE) / CAST(n_true AS DOUBLE) "
                    "END AS recall")
    )


# SQL twin of uncapped_jaccard_pairs: the capped chain minus hot/kept.
_UNCAPPED_JACCARD_SQL = f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shl),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
cm AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2
FROM cm JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


def _cap_recall_oracle() -> str:
    return f"""
WITH true_pairs AS (
  SELECT d1, d2 FROM ({_UNCAPPED_JACCARD_SQL}) ),
capped AS (
  SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL.replace(';', '')}) )
SELECT CAST(COUNT(t.d1) AS BIGINT) AS n_true,
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


QUERIES["jaccard_cap_recall_audit"] = jaccard_cap_recall_audit
ORACLES["jaccard_cap_recall_audit"] = _cap_recall_oracle()


# ---------------------------------------------------------------------------
# cross-source duplication matrix (who copies whom)
# ---------------------------------------------------------------------------
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts aggregated by (source, source) — the
    provenance report a curator reads before de-weighting a source:
    heavy off-diagonal cells mean one crawl is mirroring another, heavy
    diagonal cells mean a source republishes itself.

    Scale shape: the pair set is the existing candidates-only MinHash
    output (never the corpus pair space); the two source attachments
    join pair-side against the slim (doc_id, source) projection and the
    rollup key space is sources^2 — domain-bounded."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = docs.select(F.col("doc_id").alias("d1"),
                     F.col("source").alias("src1"))
    s2 = docs.select(F.col("doc_id").alias("d2"),
                     F.col("source").alias("src2"))
    return (
        pairs.join(s1, "d1").join(s2, "d2")
        .select(F.least("src1", "src2").alias("source_a"),
                F.greatest("src1", "src2").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def _cross_source_oracle() -> str:
    return f"""
WITH pairs AS (
  SELECT d1, d2 FROM ({_minhash_lsh_oracle()}) )
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
FROM pairs
JOIN documents a ON a.doc_id = pairs.d1
JOIN documents b ON b.doc_id = pairs.d2
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


QUERIES["cross_source_dup_matrix"] = cross_source_dup_matrix
ORACLES["cross_source_dup_matrix"] = _cross_source_oracle()


# ---------------------------------------------------------------------------
# incremental (delta-ingest) MinHash dedup
# ---------------------------------------------------------------------------
# Deterministic batch split: docs with id % 10 in {8, 9} play the incoming
# batch, the rest the already-deduplicated corpus. A modular split (rather
# than an id cutoff) keeps both sides non-degenerate at every sf.
INCREMENTAL_MOD = 10
INCREMENTAL_NEW = 8        # doc_id % INCREMENTAL_MOD >= this -> incoming


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest dedup — the production shape of MinHash LSH: a new
    batch is checked against the existing corpus WITHOUT re-pairing the
    corpus against itself. The band join is (incoming x existing) plus
    the incoming batch's own self-pairs (d1 < d2 — matching the
    streaming twin stream_minhash_dedupe's intra-batch union, so two
    near-dups arriving in the same ingest are still reported);
    existing x existing never materializes because the corpus side was
    already deduplicated when ITS batches arrived.

    At 100 TB this asymmetry is the whole ballgame: per-ingest cost is
    O(batch + matched buckets), not O(corpus^2) — and the existing side's
    band signatures are a persisted artifact in a deployment (computed
    once at each doc's own ingest; the table-store seam jaccard_pair_table
    demonstrates), so the steady-state join probes precomputed buckets.
    Here both sides derive from the same memoized shingled frame — the
    signature recompute is an artifact of the stateless oracle gate, not
    the design.

    Output: (new_id, dup_of, jaccard) — incoming docs that near-duplicate
    an existing doc, with the exact-Jaccard verification score."""
    sh = session_memo(spark, ("shingled_nonempty", sf_dir),
                      lambda: _shingled(spark, sf_dir, non_empty=True))
    # ONE band self-join with the ingest asymmetry as a join-side
    # predicate (the oracle's own shape) instead of the former
    # cross-union-intra pair of joins: the incoming side is filtered
    # BEFORE the exchange, the full side is exchanged once, and
    # (not new2) or (d1 < d2) keeps exactly incoming x existing plus
    # the incoming batch's own ordered self-pairs.
    # r16: probe the memoized LSH index (minhash_band_table) — the
    # precomputed-buckets steady state this docstring describes
    bands = minhash_band_table(spark, sf_dir).withColumn(
        "is_new", (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    a = bands.filter("is_new").select(
        F.col("doc_id").alias("d1"), "band_idx", "signature")
    b = bands.select(F.col("doc_id").alias("d2"),
                     F.col("is_new").alias("new2"),
                     "band_idx", "signature")
    cand = (a.join(b, ["band_idx", "signature"])
            .filter((~F.col("new2")) | (F.col("d1") < F.col("d2")))
            .select("d1", "d2").dropDuplicates(["d1", "d2"]))
    return (
        verified_jaccard_pairs(join_shingles_onto_pairs(cand, sh))
        .select(F.col("d1").alias("new_id"), F.col("d2").alias("dup_of"),
                "jaccard")
        .orderBy("new_id", "dup_of")
    )


def _incremental_minhash_oracle() -> str:
    params = H.minhash_params()
    mh_cols = ",\n       ".join(
        f"{H.minhash('sh', a, b, 'duck')} AS m{j}"
        for j, (a, b) in enumerate(params))
    mcols = [f"m{j}" for j in range(H.N_PERM)]
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS band_idx, "
        f"{H.lsh_band(mcols, bi, 'duck')} AS signature FROM mh"
        for bi in range(H.LSH_BANDS))
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT * FROM (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh
                       FROM th) WHERE len(sh) > 0),
mh AS (SELECT doc_id, sh,
       {mh_cols}
       FROM shl),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.signature = b.signature
   AND a.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}
   AND (b.doc_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}
        OR (b.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}
            AND a.doc_id < b.doc_id))),
verified AS (
  SELECT d1, d2,
         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
                AS DOUBLE) AS jaccard
  FROM cand JOIN shl x ON x.doc_id = d1 JOIN shl y ON y.doc_id = d2)
SELECT d1 AS new_id, d2 AS dup_of, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY new_id, dup_of
"""


QUERIES["dedup_incremental_minhash"] = dedup_incremental_minhash
ORACLES["dedup_incremental_minhash"] = _incremental_minhash_oracle()


# ---------------------------------------------------------------------------
# cross-method agreement audit: text pairs vs embedding pairs
# ---------------------------------------------------------------------------
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do the lexical and semantic duplicate graphs agree?
    Joins the jaccard pair table (text shingles) against the
    embedding-cosine pair table (vec_id is id-aligned with doc_id in the
    corpus) and reports set sizes plus their Jaccard agreement — the
    audit a pipeline runs before trusting ONE method's dup graph for
    deletion decisions (lexical misses paraphrases, embeddings miss
    short verbatim quotes; a low agreement score says run both).

    Cost: both inputs are session-memoized artifacts (jaccard_pair_table
    and cosine_pair_table — each built once per session, every later
    caller reads the materialization), the full-outer join is
    pair-table-sized, and everything reduces to one combinable
    aggregation — a single distributed job, no driver-side counting.
    Sums coalesce to 0 so an empty merged frame (no pairs under either
    method) yields (0, 0, 0, 0.0) exactly like the oracle's COUNT(*)
    subqueries, not an all-NULL row."""
    text_pairs = (jaccard_pair_table(spark, sf_dir).select("d1", "d2")
                  .withColumn("in_text", F.lit(1)))
    embed_pairs = (cosine_pair_table(spark, sf_dir)
                   .select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
                   .withColumn("in_embed", F.lit(1)))
    merged = text_pairs.join(embed_pairs, ["d1", "d2"], "full_outer")
    return merged.agg(
        F.coalesce(F.sum(F.coalesce("in_text", F.lit(0))),
                   F.lit(0).cast("long")).alias("n_text_pairs"),
        F.coalesce(F.sum(F.coalesce("in_embed", F.lit(0))),
                   F.lit(0).cast("long")).alias("n_embed_pairs"),
        F.coalesce(F.sum(F.coalesce("in_text", F.lit(0))
                         * F.coalesce("in_embed", F.lit(0))),
                   F.lit(0).cast("long")).alias("n_both"),
    ).selectExpr(
        "n_text_pairs", "n_embed_pairs", "n_both",
        "CASE WHEN n_text_pairs + n_embed_pairs - n_both = 0 THEN 0.0"
        "     ELSE CAST(n_both AS DOUBLE)"
        "          / CAST(n_text_pairs + n_embed_pairs - n_both AS DOUBLE)"
        " END AS agreement",
    )


DEDUP_AGREEMENT_SQL = f"""
WITH tp AS (SELECT d1, d2 FROM ({DEDUP_JACCARD_SQL}) t),
ep AS (SELECT v1 AS d1, v2 AS d2 FROM ({DEDUP_COSINE_SQL}) e),
counts AS (
  SELECT (SELECT COUNT(*) FROM tp) AS n_text_pairs,
         (SELECT COUNT(*) FROM ep) AS n_embed_pairs,
         (SELECT COUNT(*) FROM tp JOIN ep USING (d1, d2)) AS n_both)
SELECT n_text_pairs, n_embed_pairs, n_both,
       CASE WHEN n_text_pairs + n_embed_pairs - n_both = 0 THEN 0.0
            ELSE CAST(n_both AS DOUBLE)
                 / CAST(n_text_pairs + n_embed_pairs - n_both AS DOUBLE)
       END AS agreement
FROM counts
"""

QUERIES["dedup_method_agreement"] = dedup_method_agreement
ORACLES["dedup_method_agreement"] = DEDUP_AGREEMENT_SQL


# ---------------------------------------------------------------------------
# LSH banding-parameter sweep (the S-curve tuning report)
# ---------------------------------------------------------------------------
# All configs consume the SAME N_PERM=16 minhashes, regrouped: more bands
# of fewer rows = higher recall, more candidates (the standard
# bands/rows S-curve trade). (4, 4) is the production config.
SWEEP_BAND_CONFIGS = [(2, 8), (4, 4), (8, 2)]


def _band_sig(mcols: "list[str]", band: int, rows: int,
              dialect: str) -> str:
    """H.lsh_band generalized to an arbitrary rows-per-band grouping —
    same coalesce(-1) totality, same '_'-joined signature text."""
    cols = [f"coalesce({c}, -1)"
            for c in mcols[band * rows:(band + 1) * rows]]
    if dialect == "spark":
        return "concat_ws('_', " + ", ".join(cols) + ")"
    return " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


def lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical S-curve for the banding scheme: for each (bands, rows)
    regrouping of the SAME 16 minhashes, the candidate-pair count, the
    verified near-dup count, candidate precision, and recall against the
    exact all-pairs ground truth — the table that picks N_PERM/LSH_BANDS
    for a production run instead of trusting the 1-(1-j^r)^b formula on
    an unknown jaccard distribution.

    Scale shape: the signature table is computed ONCE (one corpus scan
    over the memoized shingle frame, 16 scan-local minhash folds); ONE
    config-tagged band frame (a single struct explode emits every
    config's band rows) feeds ONE self-join on (n_bands, band_idx,
    signature) and ONE per-config roll-up — and exact-Jaccard verify
    runs once over the DISTINCT candidate pair set instead of per
    config (a pair's jaccard is config-independent; the configs'
    candidate sets overlap heavily). The strip-spans collapse applied
    to the r10 verdict's third-widest plan; outputs and oracle
    unchanged. The ground-truth side is the audit-only uncapped pair
    pipeline (bounded corpus; see uncapped_jaccard_pairs)."""
    sh = session_memo(spark, ("shingled_nonempty", sf_dir),
                      lambda: _shingled(spark, sf_dir, non_empty=True))
    params = H.minhash_params()

    def build_mh() -> DataFrame:
        return sh.selectExpr(
            "doc_id",
            *[f"{H.minhash('sh', a, b, 'spark')} AS m{j}"
              for j, (a, b) in enumerate(params)]).transform(cut_lineage)
    mh = session_memo(spark, ("minhash_table", sf_dir), build_mh)
    mcols = [f"m{j}" for j in range(H.N_PERM)]

    n_true = (uncapped_pair_table(spark, sf_dir)
              .agg(F.count(F.lit(1)).alias("n_true")))
    structs = [
        F.struct(F.lit(n_bands).alias("n_bands"),
                 F.lit(rows).alias("rows_per_band"),
                 F.lit(bi).alias("band_idx"),
                 F.expr(_band_sig(mcols, bi, rows, "spark"))
                 .alias("signature"))
        for n_bands, rows in SWEEP_BAND_CONFIGS
        for bi in range(n_bands)]
    bands = mh.select(
        "doc_id", F.explode(F.array(*structs)).alias("b")
    ).select("doc_id", "b.n_bands", "b.rows_per_band", "b.band_idx",
             "b.signature")
    a = bands.select(F.col("doc_id").alias("d1"), "n_bands",
                     "rows_per_band", "band_idx", "signature")
    bb = bands.select(F.col("doc_id").alias("d2"), "n_bands",
                      "band_idx", "signature")
    cand = (a.join(bb, ["n_bands", "band_idx", "signature"])
            .filter(F.col("d1") < F.col("d2"))
            .dropDuplicates(["n_bands", "d1", "d2"])
            .select("n_bands", "rows_per_band", "d1", "d2"))
    distinct_pairs = cand.select("d1", "d2").dropDuplicates(["d1", "d2"])
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    ver = (join_shingles_onto_pairs(distinct_pairs, sh)
           .withColumn("jaccard", inter.cast("double") / union.cast("double"))
           .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
           .select("d1", "d2", F.lit(1).alias("is_dup")))
    counts = (cand.join(ver, ["d1", "d2"], "left")
              .groupBy("n_bands", "rows_per_band")
              .agg(F.count(F.lit(1)).alias("n_candidates"),
                   F.count("is_dup").alias("n_verified")))
    # explicit config universe: a config with ZERO candidates must still
    # report its row (the per-config groupBy emits nothing for it — the
    # pairless-corpus property test pins this)
    universe = spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(nb).alias("n_bands"),
                 F.lit(rw).alias("rows_per_band"))
        for nb, rw in SWEEP_BAND_CONFIGS])).alias("c")
    ).select("c.n_bands", "c.rows_per_band")
    out = (universe.join(counts, ["n_bands", "rows_per_band"], "left")
           .select("n_bands", "rows_per_band",
                   F.coalesce("n_candidates", F.lit(0))
                   .alias("n_candidates"),
                   F.coalesce("n_verified", F.lit(0)).alias("n_verified")))
    return (
        out.crossJoin(F.broadcast(n_true))
        .selectExpr(
            "n_bands", "rows_per_band",
            "CAST(n_candidates AS BIGINT) AS n_candidates",
            "CAST(n_verified AS BIGINT) AS n_verified",
            "CAST(n_true AS BIGINT) AS n_true",
            "CAST(n_verified AS DOUBLE)"
            " / CAST(nullif(n_candidates, 0) AS DOUBLE)"
            " AS candidate_precision",
            "CAST(n_verified AS DOUBLE) / CAST(nullif(n_true, 0) AS DOUBLE)"
            " AS recall")
        .orderBy("n_bands")
    )


def _banding_sweep_oracle() -> str:
    params = H.minhash_params()
    mh_cols = ",\n       ".join(
        f"{H.minhash('sh', a, b, 'duck')} AS m{j}"
        for j, (a, b) in enumerate(params))
    mcols = [f"m{j}" for j in range(H.N_PERM)]
    per_config = []
    ctes = [
        f"toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks "
        f"FROM documents)",
        f"th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th "
        f"FROM toks)",
        f"shl AS (SELECT * FROM (SELECT doc_id, "
        f"{H.shingle_hashes('th', 'duck')} AS sh FROM th) "
        f"WHERE len(sh) > 0)",
        f"mh AS (SELECT doc_id, sh,\n       {mh_cols}\n       FROM shl)",
        f"tp AS (SELECT COUNT(*) AS n_true "
        f"FROM ({_UNCAPPED_JACCARD_SQL}))",
    ]
    for n_bands, rows in SWEEP_BAND_CONFIGS:
        tag = f"{n_bands}x{rows}"
        band_rows = "\nUNION ALL\n".join(
            f"SELECT doc_id, {bi} AS band_idx, "
            f"{_band_sig(mcols, bi, rows, 'duck')} AS signature FROM mh"
            for bi in range(n_bands))
        ctes.append(f"bands_{tag} AS ({band_rows})")
        ctes.append(
            f"cand_{tag} AS (SELECT DISTINCT a.doc_id AS d1, "
            f"b.doc_id AS d2 FROM bands_{tag} a JOIN bands_{tag} b "
            f"ON a.band_idx = b.band_idx AND a.signature = b.signature "
            f"AND a.doc_id < b.doc_id)")
        ctes.append(
            f"ver_{tag} AS (SELECT COUNT(*) AS n FROM ("
            f"SELECT CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
            f" / CAST(len(x.sh) + len(y.sh)"
            f" - len(list_intersect(x.sh, y.sh)) AS DOUBLE) AS jaccard"
            f" FROM cand_{tag} JOIN shl x ON x.doc_id = d1"
            f" JOIN shl y ON y.doc_id = d2)"
            f" WHERE jaccard >= {JACCARD_THRESHOLD})")
        per_config.append(
            f"SELECT {n_bands} AS n_bands, {rows} AS rows_per_band, "
            f"CAST((SELECT COUNT(*) FROM cand_{tag}) AS BIGINT) "
            f"AS n_candidates, "
            f"CAST((SELECT n FROM ver_{tag}) AS BIGINT) AS n_verified, "
            f"CAST((SELECT n_true FROM tp) AS BIGINT) AS n_true, "
            f"CAST((SELECT n FROM ver_{tag}) AS DOUBLE)"
            f" / CAST(NULLIF((SELECT COUNT(*) FROM cand_{tag}), 0)"
            f" AS DOUBLE) AS candidate_precision, "
            f"CAST((SELECT n FROM ver_{tag}) AS DOUBLE)"
            f" / CAST(NULLIF((SELECT n_true FROM tp), 0) AS DOUBLE)"
            f" AS recall")
    return ("WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
            + " UNION ALL ".join(per_config) + ") ORDER BY n_bands")


QUERIES["lsh_banding_sweep"] = lsh_banding_sweep
ORACLES["lsh_banding_sweep"] = _banding_sweep_oracle()


# ---------------------------------------------------------------------------
# human-QA sample of the top near-duplicate pairs
# ---------------------------------------------------------------------------
REVIEW_SAMPLE_K = 20
REVIEW_SNIPPET_CHARS = 80


def near_dup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual-review table a curator eyeballs before trusting a dedup
    threshold: the top-K near-duplicate pairs by jaccard (deterministic
    (d1, d2) tie-break) with a text snippet from each side. Dedup
    mistakes are cheap to SEE and expensive to measure — this is the
    seeing tool.

    Scale shape: top-K on the memoized pair table (TakeOrderedAndProject
    — K rows leave the cluster), then two snippet joins against the
    K-row set only; the corpus text column is never shuffled."""
    top = (jaccard_pair_table(spark, sf_dir)
           .orderBy(F.desc("jaccard"), "d1", "d2")
           .limit(REVIEW_SAMPLE_K))
    docs = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"substring(text, 1, {REVIEW_SNIPPET_CHARS}) AS snippet")
    s1 = docs.select(F.col("doc_id").alias("d1"),
                     F.col("snippet").alias("snippet_1"))
    s2 = docs.select(F.col("doc_id").alias("d2"),
                     F.col("snippet").alias("snippet_2"))
    return (top.join(s1, "d1").join(s2, "d2")
            .select("d1", "d2", "jaccard", "snippet_1", "snippet_2")
            .orderBy(F.desc("jaccard"), "d1", "d2"))


NEAR_DUP_REVIEW_SQL = f"""
WITH top AS (
  SELECT d1, d2, jaccard FROM ({DEDUP_JACCARD_SQL.replace(';', '')})
  ORDER BY jaccard DESC, d1, d2 LIMIT {REVIEW_SAMPLE_K})
SELECT d1, d2, jaccard,
       substring(a.text, 1, {REVIEW_SNIPPET_CHARS}) AS snippet_1,
       substring(b.text, 1, {REVIEW_SNIPPET_CHARS}) AS snippet_2
FROM top JOIN documents a ON a.doc_id = d1
JOIN documents b ON b.doc_id = d2
ORDER BY jaccard DESC, d1, d2
"""

QUERIES["near_dup_review_sample"] = near_dup_review_sample
ORACLES["near_dup_review_sample"] = NEAR_DUP_REVIEW_SQL


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (dHash + simhash-style banding)
# ---------------------------------------------------------------------------
PHASH_N_BANDS = 4
PHASH_BAND_BITS = 14          # 4 x 14 = the full 56-bit dHash
PHASH_HAMMING_MAX = 3         # < PHASH_N_BANDS, so banding is EXACT
                              # (pigeonhole: <=3 differing bits cannot
                              # touch all 4 bands)
PHASH_C2_N_SUB = 5   # 5 strided sub-bands; hamming<=3 leaves >=2 intact

# Band layouts of the 56-bit perceptual signatures (image dHash, audio
# energy-sign fingerprint, per-frame video hash). PRODUCTION is STRIDED:
# all three have spatially/temporally CORRELATED adjacent bits, so a
# contiguous 14-bit band is a low-entropy join key; striding (bit i ->
# band i mod 4) decorrelates each band at zero recall cost. Measured by
# phash_band_layout_audit on the designed corpora: image candidates
# 264 -> 160 (max bucket 6 -> 4), audio 220 -> 145, identical verified
# counts. Verified-pair oracles band contiguously (banding.py).
PROD_BANDS56 = Layout("strided", PHASH_N_BANDS)
ORACLE_BANDS56 = Layout("contiguous", PHASH_N_BANDS)
# The combinatorial 2-of-5 band pairs (the birthday-regime remedy): key
# space per pair ~2^22-2^23 vs 2^14 for a single 14-bit band, keeping
# average bucket occupancy << 1 once the corpus outgrows the
# 16,384-value single-band space (SCALING.md). Cost: 10 rows/unit, not 4.
PAIRS56 = Layout("pairs", PHASH_C2_N_SUB)


def _phash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, phash) — the decode+resize+hash Python stage runs
    ONCE per (session, dataset); both sides of the band self-join and the
    banding sweep consume the materialized frame (the same
    signature-only-shuffle discipline as the minhash/simhash paths)."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal

    def build() -> DataFrame:
        return multimodal.image_phash_table(spark, sf_dir) \
            .transform(cut_lineage)
    return session_memo(spark, ("image_phash", sf_dir), build)


def _sig_pairs(sigs: DataFrame, sig: str, layout: Layout, hamming_max: int,
               is_new: "F.Column | None" = None) -> DataFrame:
    """Verified hamming pairs of one signature frame (doc_id, ``sig``):
    (d1, d2, hamming) in the batch form; (new_id, dup_of, hamming) in the
    incremental form."""
    keep = None
    if is_new is not None:
        keep = [F.col("d1").alias("new_id"), F.col("d2").alias("dup_of"),
                "hamming"]
    out = banded_pairs(
        explode_bands(sigs, band_exprs(sig, layout, "spark"), "doc_id", sig),
        sig, is_new=is_new, hamming_max=hamming_max, keep=keep)
    return out.orderBy(*out.columns[:2])


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: decoded pixels -> 8x8 normalized
    grayscale -> 56-bit dHash (multimodal.dhash56, the only Python stage,
    scan-local) -> 14-bit band explode -> bucketed candidate self-join ->
    exact hamming verify. With hamming_max 3 < 4 bands the pigeonhole
    guarantee makes the banded join EXACT over the d<=3 pair set — same
    blocking theorem dedup_simhash uses, applied to pixel content instead
    of token content.

    Scale shape: signatures are 16 bytes/doc; the join shuffles
    (band_idx, band_val) keyed signature rows only — pixels never leave
    the scan stage. Candidates are O(colliding pairs), never all pairs."""
    return _sig_pairs(_phash_signatures(spark, sf_dir), "phash",
                      PROD_BANDS56, PHASH_HAMMING_MAX)


def _sig_pairs_oracle(ctes: str, src: str, sig: str, hamming_max: int,
                      is_new: "str | None" = None,
                      layout: Layout = ORACLE_BANDS56) -> str:
    """The oracle of _sig_pairs over table ``src``: contiguous blocking."""
    names = ("d1", "d2") if is_new is None else ("new_id", "dup_of")
    return (f"WITH {ctes.strip()},\n"
            f"{banded_pairs_sql(src, sig, layout, is_new=is_new)}\n"
            f"{_verified_sql(hamming_max, names)}")


def _image_phash_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        PHASH_ORACLE_CTES,
    )
    return _sig_pairs_oracle(PHASH_ORACLE_CTES, "ph", "phash",
                             PHASH_HAMMING_MAX)


QUERIES["dedup_image_phash"] = dedup_image_phash
ORACLES["dedup_image_phash"] = _image_phash_oracle()


# ---------------------------------------------------------------------------
# phash banding sweep (recall/precision S-curve for the hamming blocking)
# ---------------------------------------------------------------------------
PHASH_SWEEP_CONFIGS = [(2, 28), (4, 14), (7, 8)]   # n_bands x bits = 56


def phash_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding S-curve for the image-hash blocking, mirroring
    lsh_banding_sweep: for each (n_bands, bits_per_band) regrouping of the
    SAME 56-bit dHash, the candidate count, the hamming<=3-verified count,
    candidate precision, and recall. Ground truth needs NO all-pairs scan:
    the (4, 14) config is EXACT for d<=3 by pigeonhole (3 differing bits
    cannot touch all 4 bands), so its verified count IS n_true — the
    (2, 28) row shows the recall a coarser (cheaper) scheme loses on
    d in {2, 3} pairs, the (7, 8) row the candidate cost a finer scheme
    pays for the same recall.

    Scale shape: one decode+hash pass (memoized signature table); each
    config pays only its own 16-bytes-per-row band join."""
    return _banding_sweep(_phash_signatures(spark, sf_dir), "phash",
                          PHASH_SWEEP_CONFIGS, PHASH_HAMMING_MAX)


def _banding_sweep(sigs: DataFrame, sig: str, configs, hamming_max: int
                   ) -> DataFrame:
    """The 56-bit banding sweep body shared by the image and audio
    families: one contiguous band join per (n_bands, bits) config."""
    per_config = {}
    for n_bands, bits in configs:
        cand = banded_pairs(
            explode_bands(sigs, band_exprs(sig, Layout("contiguous", n_bands),
                                           "spark"), "doc_id", sig),
            sig).withColumn("hamming", F.expr(H.hamming("s1", "s2", "spark")))
        per_config[(n_bands, bits)] = (
            cand.agg(
                F.count(F.lit(1)).alias("n_candidates"),
                F.sum(F.when(F.col("hamming") <= hamming_max, 1)
                      .otherwise(0)).alias("n_verified"))
            .selectExpr(f"{n_bands} AS n_bands", f"{bits} AS bits_per_band",
                        "n_candidates", "n_verified"))
    n_true = (per_config[(PHASH_N_BANDS, PHASH_BAND_BITS)]
              .selectExpr("n_verified AS n_true"))
    out = None
    for row in per_config.values():
        out = row if out is None else out.unionByName(row)
    return (
        out.crossJoin(F.broadcast(n_true))
        .selectExpr(
            "n_bands", "bits_per_band",
            "CAST(n_candidates AS BIGINT) AS n_candidates",
            "CAST(n_verified AS BIGINT) AS n_verified",
            "CAST(n_true AS BIGINT) AS n_true",
            "CAST(n_verified AS DOUBLE)"
            " / CAST(nullif(n_candidates, 0) AS DOUBLE)"
            " AS candidate_precision",
            "CAST(n_verified AS DOUBLE) / CAST(nullif(n_true, 0) AS DOUBLE)"
            " AS recall")
        .orderBy("n_bands")
    )


def _banding_sweep_sql(ctes: str, src: str, sig: str, configs,
                       hamming_max: int) -> str:
    parts = [ctes.strip()]
    per_config = []
    for n_bands, bits in configs:
        tag = f"_{n_bands}x{bits}"
        parts.append(banded_pairs_sql(src, sig, Layout("contiguous", n_bands),
                                      tag=tag))
        parts.append(
            f"agg{tag} AS (SELECT COUNT(*) AS n_candidates, "
            f"SUM(CASE WHEN {H.hamming('s1', 's2', 'duck')} <= "
            f"{hamming_max} THEN 1 ELSE 0 END) AS n_verified "
            f"FROM cand{tag})")
        per_config.append(
            f"SELECT {n_bands} AS n_bands, {bits} AS bits_per_band, "
            f"CAST(n_candidates AS BIGINT) AS n_candidates, "
            f"CAST(n_verified AS BIGINT) AS n_verified FROM agg{tag}")
    exact_tag = f"_{PHASH_N_BANDS}x{PHASH_BAND_BITS}"
    return (
        "WITH " + ",\n".join(parts)
        + f",\nunioned AS ({' UNION ALL '.join(per_config)}),\n"
        + f"tp AS (SELECT n_verified AS n_true FROM agg{exact_tag})\n"
        + "SELECT n_bands, bits_per_band, n_candidates, n_verified,\n"
        + "       CAST(n_true AS BIGINT) AS n_true,\n"
        + "       CAST(n_verified AS DOUBLE)"
        + " / CAST(NULLIF(n_candidates, 0) AS DOUBLE)"
        + " AS candidate_precision,\n"
        + "       CAST(n_verified AS DOUBLE)"
        + " / CAST(NULLIF(n_true, 0) AS DOUBLE) AS recall\n"
        + "FROM unioned CROSS JOIN tp ORDER BY n_bands")


def _phash_sweep_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        PHASH_ORACLE_CTES,
    )
    return _banding_sweep_sql(PHASH_ORACLE_CTES, "ph", "phash",
                              PHASH_SWEEP_CONFIGS, PHASH_HAMMING_MAX)


QUERIES["phash_banding_sweep"] = phash_banding_sweep
ORACLES["phash_banding_sweep"] = _phash_sweep_oracle()


# ---------------------------------------------------------------------------
# band-layout audit (contiguous vs strided bit->band assignment)
# ---------------------------------------------------------------------------
def phash_band_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous vs strided band LAYOUT for the 4x14 image-hash
    blocking — the knob for CORRELATED-BIT signatures. dHash bits are
    gradient signs of spatially adjacent pixels, so neighboring bits
    correlate; a contiguous 14-bit band is then a low-entropy key
    (few populated buckets, hot buckets, more candidate pairs), while
    the strided layout (bit i -> band i mod 4) spreads each band across
    the whole image and decorrelates its bits. Pigeonhole exactness is
    LAYOUT-INDEPENDENT — any partition of the 56 bits into 4 classes
    catches every hamming<=3 pair — so n_verified MUST agree across
    layouts (pytest-pinned) and the audit isolates pure candidate-
    volume/skew cost: n_buckets, max_bucket_size, n_candidates,
    candidate_precision per layout.

    This is the measurement that decides the production layout before
    100 TB: same recall, whichever layout shows the smaller max bucket
    and candidate count wins the band join.

    Scale shape: one memoized signature pass; per layout one band join
    over 16-byte rows and one bucket-histogram aggregation."""
    ph = _phash_signatures(spark, sf_dir)
    out = None
    for layout_name, layout in (("contiguous", ORACLE_BANDS56),
                                ("strided", PROD_BANDS56)):
        bands = explode_bands(ph, band_exprs("phash", layout, "spark"),
                              "doc_id", "phash")
        buckets = (bands.groupBy("band_idx", "band_val")
                   .agg(F.count(F.lit(1)).alias("sz"))
                   .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
                        F.max("sz").cast("long").alias("max_bucket_size")))
        cand = (banded_pairs(bands, "phash")
                .withColumn("hamming",
                            F.expr(H.hamming("s1", "s2", "spark")))
                .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"),
                     F.sum(F.when(
                         F.col("hamming") <= PHASH_HAMMING_MAX, 1)
                         .otherwise(0)).cast("long").alias("n_verified")))
        row = (buckets.crossJoin(cand)
               .selectExpr(f"'{layout_name}' AS layout", "n_buckets",
                           "max_bucket_size", "n_candidates", "n_verified",
                           "CAST(n_verified AS DOUBLE)"
                           " / CAST(nullif(n_candidates, 0) AS DOUBLE)"
                           " AS candidate_precision"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("layout")


def _scheme_audit_sql(ctes: str, schemes, hamming_max: int, label: str,
                      n_band_rows: bool = True) -> str:
    """Oracle of the per-scheme blocking audits: for each (name, src,
    sig, layout), bucket shape and candidate/verified counts of its own
    band self-join (the layout mirrors Spark's — the audit's output IS
    the candidate set's shape)."""
    parts = [ctes.strip()]
    selects = []
    for i, (name, src, sig, layout) in enumerate(schemes):
        tag = f"_{i}"
        parts.append(banded_pairs_sql(src, sig, layout, tag=tag))
        rows = "CAST(SUM(sz) AS BIGINT) AS n_band_rows, " if n_band_rows \
            else ""
        parts.append(
            f"bk{tag} AS (SELECT {rows}"
            f"CAST(COUNT(*) AS BIGINT) AS n_buckets, "
            f"CAST(MAX(sz) AS BIGINT) AS max_bucket_size FROM "
            f"(SELECT band_idx, band_val, COUNT(*) AS sz FROM bands{tag} "
            f"GROUP BY band_idx, band_val) h)")
        parts.append(
            f"agg{tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS "
            f"n_candidates, CAST(SUM(CASE WHEN "
            f"{H.hamming('s1', 's2', 'duck')} <= {hamming_max} "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS n_verified "
            f"FROM cand{tag})")
        selects.append(
            f"SELECT '{name}' AS {label}, "
            f"{'n_band_rows, ' if n_band_rows else ''}n_buckets, "
            f"max_bucket_size, n_candidates, n_verified, "
            f"CAST(n_verified AS DOUBLE)"
            f" / CAST(NULLIF(n_candidates, 0) AS DOUBLE)"
            f" AS candidate_precision FROM bk{tag} CROSS JOIN agg{tag}")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(selects) + f"\nORDER BY {label}")


def _band_layout_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        PHASH_ORACLE_CTES,
    )
    return _scheme_audit_sql(
        PHASH_ORACLE_CTES,
        [("contiguous", "ph", "phash", ORACLE_BANDS56),
         ("strided", "ph", "phash", PROD_BANDS56)],
        PHASH_HAMMING_MAX, "layout", n_band_rows=False)


QUERIES["phash_band_layout_audit"] = phash_band_layout_audit
ORACLES["phash_band_layout_audit"] = _band_layout_oracle()


# ---------------------------------------------------------------------------
# incremental image-phash dedup (delta-ingest form)
# ---------------------------------------------------------------------------
PHASH_INCREMENTAL_NEW = 1   # doc_id % 4 == 1 -> incoming batch


def dedup_image_phash_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Delta-ingest image dedup — dedup_incremental_minhash's asymmetry
    applied to the pixel hash: an incoming batch's phash bands join the
    EXISTING corpus's bands plus the batch's OWN bands (d1 < d2);
    existing x existing never materializes (it was checked when those
    docs arrived). The intra-batch self-join matches the streaming twin
    stream_image_phash_dedupe — without it two near-dup images landing
    in the same ingest batch are never reported. The growth convention
    here is doc_id % 4 == 1 — the LATER member of each of the synthetic
    corpus's designed ingest pairs (see multimodal.phash_synth_pixels),
    so every designed near-dup arrives split across the batch boundary
    and must be caught by the cross join, not the intra-batch one.

    At 100 TB the existing side's (doc_id, phash, band) rows are a
    persisted artifact (16 bytes + banding per doc, written at each
    doc's own ingest); per-ingest cost is O(batch + matched buckets).
    Here both sides derive from the same memoized signature frame — the
    recompute is the stateless oracle gate's artifact, not the design.

    Output: (new_id, dup_of, hamming) — incoming docs near-duplicating
    an existing doc or an earlier-id doc of the same batch,
    hamming-verified."""
    return _sig_pairs(_phash_signatures(spark, sf_dir), "phash",
                      PROD_BANDS56, PHASH_HAMMING_MAX,
                      is_new=(F.col("doc_id") % 4) == PHASH_INCREMENTAL_NEW)


def _image_phash_incremental_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        PHASH_ORACLE_CTES,
    )
    return _sig_pairs_oracle(
        PHASH_ORACLE_CTES, "ph", "phash", PHASH_HAMMING_MAX,
        is_new=f"{{}}.doc_id % 4 = {PHASH_INCREMENTAL_NEW}")


QUERIES["dedup_image_phash_incremental"] = dedup_image_phash_incremental
ORACLES["dedup_image_phash_incremental"] = _image_phash_incremental_oracle()


# ---------------------------------------------------------------------------
# audio fingerprint dedup family (energy-sign signature; phash parity)
# ---------------------------------------------------------------------------
AFP_N_BANDS = 4               # 4 x 14 bits = the full 56-bit fingerprint
AFP_HAMMING_MAX = 3           # < AFP_N_BANDS -> banding EXACT (pigeonhole)
AFP_INCREMENTAL_NEW = 1       # doc_id % 4 == 1 -> incoming batch


def _afp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, afp) — the synth+WAV-round-trip+fingerprint
    Python stage runs ONCE per (session, dataset); the band self-join,
    the incremental form, and the banding sweep all consume the
    materialized frame (the signature-only-shuffle discipline shared
    with the minhash/simhash/phash paths)."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal

    def build() -> DataFrame:
        return multimodal.audio_fingerprint_table(spark, sf_dir) \
            .transform(cut_lineage)
    return session_memo(spark, ("audio_afp", sf_dir), build)


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: decoded PCM -> 57-window energy
    profile -> 56-bit energy-sign fingerprint (multimodal.
    audio_fingerprint56, the only Python stage, scan-local) -> 14-bit
    band explode -> bucketed candidate self-join -> exact hamming
    verify. With hamming_max 3 < 4 bands the pigeonhole guarantee makes
    the banded join EXACT over the d<=3 pair set — the same blocking
    theorem the simhash and image-phash paths use, applied to audio
    content.

    Scale shape: signatures are 16 bytes/doc; the join shuffles
    (band_idx, band_val) keyed signature rows only — samples never
    leave the scan stage. Candidates measured ~2.7/doc on the synthetic
    corpus (banding sweep quantifies the configs)."""
    return _sig_pairs(_afp_signatures(spark, sf_dir), "afp",
                      PROD_BANDS56, AFP_HAMMING_MAX)


def _audio_fingerprint_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
    )
    return _sig_pairs_oracle(AFP_ORACLE_CTES, "afpt", "afp", AFP_HAMMING_MAX)


QUERIES["dedup_audio_fingerprint"] = dedup_audio_fingerprint
ORACLES["dedup_audio_fingerprint"] = _audio_fingerprint_oracle()


AFP_SWEEP_CONFIGS = [(2, 28), (4, 14), (7, 8)]   # n_bands x bits = 56


def afp_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding S-curve for the audio-fingerprint blocking, mirroring
    phash_banding_sweep: for each (n_bands, bits_per_band) regrouping of
    the SAME 56-bit signature, the candidate count, the hamming<=3-
    verified count, candidate precision, and recall. Ground truth needs
    no all-pairs scan: the (4, 14) config is EXACT for d<=3 by
    pigeonhole, so its verified count IS n_true.

    Scale shape: one synth+decode+fingerprint pass (memoized signature
    table); each config pays only its own 16-bytes-per-row band join."""
    return _banding_sweep(_afp_signatures(spark, sf_dir), "afp",
                          AFP_SWEEP_CONFIGS, AFP_HAMMING_MAX)


def _afp_sweep_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
    )
    return _banding_sweep_sql(AFP_ORACLE_CTES, "afpt", "afp",
                              AFP_SWEEP_CONFIGS, AFP_HAMMING_MAX)


QUERIES["afp_banding_sweep"] = afp_banding_sweep
ORACLES["afp_banding_sweep"] = _afp_sweep_oracle()


def dedup_audio_fingerprint_incremental(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Delta-ingest audio dedup — the incremental asymmetry shared with
    the minhash and image-phash paths: an incoming batch's fingerprint
    bands join the EXISTING corpus's bands plus the batch's OWN bands
    (d1 < d2, same-batch near-dups reported); existing x existing never
    materializes. The growth convention is doc_id % 4 == 1 — the LATER
    member of each designed synth pair (afp_synth_samples), so every
    designed near-dup arrives split across the batch boundary.

    At 100 TB the existing side's (doc_id, afp, band) rows are a
    persisted artifact written at each doc's own ingest; per-ingest cost
    is O(batch + matched buckets). Output: (new_id, dup_of, hamming)."""
    return _sig_pairs(_afp_signatures(spark, sf_dir), "afp",
                      PROD_BANDS56, AFP_HAMMING_MAX,
                      is_new=(F.col("doc_id") % 4) == AFP_INCREMENTAL_NEW)


def _audio_fingerprint_incremental_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
    )
    return _sig_pairs_oracle(
        AFP_ORACLE_CTES, "afpt", "afp", AFP_HAMMING_MAX,
        is_new=f"{{}}.doc_id % 4 = {AFP_INCREMENTAL_NEW}")


QUERIES["dedup_audio_fingerprint_incremental"] = \
    dedup_audio_fingerprint_incremental
ORACLES["dedup_audio_fingerprint_incremental"] = \
    _audio_fingerprint_incremental_oracle()


# ---------------------------------------------------------------------------
# band-skew audit: hot-bucket histogram for the banded joins
# ---------------------------------------------------------------------------
# video-family banding constants (the family itself lives further down;
# the import-time oracle builders here need the constants already bound)
VFP_N_BANDS = 4               # 4 x 14 bits = the full 56-bit frame hash
VFP_HAMMING_MAX = 3           # < VFP_N_BANDS -> per-frame banding EXACT
VFP_MIN_FRAMES = 3            # M of K aligned frames must match
VFP_INCREMENTAL_NEW = 1       # doc_id % 4 == 1 -> incoming batch


def _banded_family_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(family, band_idx, key) for every production banded join — the
    shared input of band_skew_audit and band_salting_policy. Keys are
    the exact join keys each family shuffles on: LSH band signature
    strings for minhash, strided band values for image/audio, and
    frame-qualified strided band values for video (its join is keyed
    (frame_idx, band_idx, band_val))."""
    mh = minhash_band_table(spark, sf_dir).selectExpr(
        "'minhash_lsh' AS family", "CAST(band_idx AS INT) AS band_idx",
        "CAST(signature AS STRING) AS key")
    ph_rows = explode_bands(
        _phash_signatures(spark, sf_dir),
        band_exprs("phash", PROD_BANDS56, "spark"), "doc_id"
    ).selectExpr("'image_phash' AS family", "CAST(band_idx AS INT)"
                 " AS band_idx", "CAST(band_val AS STRING) AS key")
    af_rows = explode_bands(
        _afp_signatures(spark, sf_dir),
        band_exprs("afp", PROD_BANDS56, "spark"), "doc_id", "afp"
    ).selectExpr(
        "'audio_afp' AS family", "CAST(band_idx AS INT) AS band_idx",
        "CAST(band_val AS STRING) AS key")
    vf_rows = _vfp_bands(_vfp_signatures(spark, sf_dir)).selectExpr(
        "'video_vfh_frame' AS family", "CAST(band_idx AS INT) AS band_idx",
        "CONCAT(CAST(frame_idx AS STRING), ':',"
        " CAST(band_val AS STRING)) AS key")
    return (mh.unionByName(ph_rows).unionByName(af_rows)
            .unionByName(vf_rows))


def band_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew number that decides whether band SALTING is needed
    before 100 TB: for each banded dedup family (minhash LSH, image
    phash, audio fingerprint, per-frame video), the bucket-size
    distribution of its band join — total band rows, bucket count, the hottest bucket, total
    candidate pairs (sum over buckets of k*(k-1)/2 — the actual join
    fan-out), and how concentrated that fan-out is in the top DECILE of
    buckets by size. A top-decile share near 1.0 with a large
    max_bucket says one hot key dominates the shuffle and the band join
    needs salting; a flat share says the banding spreads.

    Scale shape (the companion to shard_balance_audit): bucket sizes
    are one map-side-combinable aggregation over the memoized signature
    artifacts; the decile math runs over the SIZE HISTOGRAM (distinct
    bucket sizes — tens of rows), never a global sort of the buckets
    themselves. The decile boundary falling inside one size class is
    exact: same-size buckets contribute identical pair counts, so the
    quota remainder multiplies out deterministically."""
    rows = _banded_family_rows(spark, sf_dir)
    sizes = (rows.groupBy("family", "band_idx", "key")
             .agg(F.count(F.lit(1)).cast("long").alias("k")))
    # materialized once per call (r15): hist feeds BOTH the decile
    # window branch and the totals branch — without the cut the whole
    # four-family union + banding + bucket-size subtree (the dominant
    # map work) executes twice in the audited plan (plans/r15: the
    # 28-operator sizes pipeline appeared verbatim under each branch).
    # hist is bounded (distinct (family, bucket-size) pairs — tens of
    # rows at any corpus size), so the cut costs one tiny eager job.
    hist = (sizes.groupBy("family", "k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
            .selectExpr("family", "k", "n_k",
                        "n_k * ((k * (k - 1)) div 2) AS pairs_k")
            .transform(cut_lineage))
    w = Window.partitionBy("family").orderBy(F.desc("k"))
    cum = (hist
           .withColumn("cum_b", F.sum("n_k").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("cum_p", F.sum("pairs_k").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    totals = (hist.groupBy("family")
              .agg(F.sum(F.expr("n_k * k")).cast("long")
                   .alias("n_band_rows"),
                   F.sum("n_k").cast("long").alias("n_buckets"),
                   F.max("k").cast("long").alias("max_bucket"),
                   F.sum("pairs_k").cast("long").alias("candidate_pairs"))
              .withColumn("quota",
                          F.expr("(n_buckets + 9) div 10").cast("long")))
    return (
        cum.join(totals, "family")
        .filter((F.col("cum_b") >= F.col("quota"))
                & (F.col("cum_b") - F.col("n_k") < F.col("quota")))
        .selectExpr(
            "family", "n_band_rows", "n_buckets", "max_bucket",
            "candidate_pairs",
            "quota AS top_decile_buckets",
            "CAST(cum_p - pairs_k + (quota - (cum_b - n_k))"
            " * ((k * (k - 1)) div 2) AS BIGINT) AS top_decile_pairs",
            "CAST(cum_p - pairs_k + (quota - (cum_b - n_k))"
            " * ((k * (k - 1)) div 2) AS DOUBLE)"
            " / CAST(nullif(candidate_pairs, 0) AS DOUBLE)"
            " AS top_decile_share")
        .orderBy("family")
    )


def _banded_family_sizes_sql(extra_ctes: str = "",
                             extra_arms: str = "") -> str:
    """The DuckDB mirror of _banded_family_rows + the bucket-size
    aggregation: a WITH-clause prefix ending in `sizes(family,
    band_idx, key, k)`, shared by the skew-audit and salting-policy
    oracles. extra_ctes/extra_arms let the candidate-volume census
    append additional banded families (the simhash pair) without
    duplicating the four base families' CTE chain."""
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
        PHASH_ORACLE_CTES,
        VFP_ORACLE_CTES,
    )
    params = H.minhash_params()
    mh_cols = ",\n       ".join(
        f"{H.minhash('sh', a, b, 'duck')} AS m{j}"
        for j, (a, b) in enumerate(params))
    mcols = [f"m{j}" for j in range(H.N_PERM)]
    mband_rows = "\nUNION ALL\n".join(
        f"SELECT {bi} AS band_idx, "
        f"CAST({H.lsh_band(mcols, bi, 'duck')} AS VARCHAR) AS key FROM mh"
        for bi in range(H.LSH_BANDS))
    vband_rows = (
        "SELECT band_idx, CAST(frame_idx AS VARCHAR) || ':' || "
        "CAST(band_val AS VARCHAR) AS key FROM "
        f"({band_rows_sql('vft', 'vfh', PROD_BANDS56, ['frame_idx'])})")
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks
              FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT * FROM (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh
                       FROM th) WHERE len(sh) > 0),
mh AS (SELECT doc_id, sh,
       {mh_cols}
       FROM shl),
{PHASH_ORACLE_CTES.strip()},
{AFP_ORACLE_CTES.strip()},
{VFP_ORACLE_CTES.strip()},
{extra_ctes}rows_all AS (
  SELECT 'minhash_lsh' AS family, band_idx, key FROM ({mband_rows})
  UNION ALL
  SELECT 'image_phash' AS family, band_idx, key FROM ({_band_keys_sql('ph', 'phash', PROD_BANDS56)})
  UNION ALL
  SELECT 'audio_afp' AS family, band_idx, key FROM ({_band_keys_sql('afpt', 'afp', PROD_BANDS56)})
  UNION ALL
  SELECT 'video_vfh_frame' AS family, band_idx, key FROM ({vband_rows})
  {extra_arms}),
sizes AS (
  SELECT family, band_idx, key, CAST(COUNT(*) AS BIGINT) AS k
  FROM rows_all GROUP BY family, band_idx, key)
"""


def _band_keys_sql(src: str, sig: str, layout: Layout) -> str:
    """(band_idx, key) rows of table ``src`` for the bucket-size oracles."""
    return (f"SELECT band_idx, CAST(band_val AS VARCHAR) AS key "
            f"FROM ({band_rows_sql(src, sig, layout)})")


def _band_skew_oracle() -> str:
    return _banded_family_sizes_sql() + f""",
hist AS (
  SELECT family, k, CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(COUNT(*) AS BIGINT) * ((k * (k - 1)) // 2) AS pairs_k
  FROM sizes GROUP BY family, k),
cum AS (
  SELECT family, k, n_k, pairs_k,
         SUM(n_k) OVER (PARTITION BY family ORDER BY k DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_b,
         SUM(pairs_k) OVER (PARTITION BY family ORDER BY k DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND
                            CURRENT ROW) AS cum_p
  FROM hist),
totals AS (
  SELECT family,
         CAST(SUM(n_k * k) AS BIGINT) AS n_band_rows,
         CAST(SUM(n_k) AS BIGINT) AS n_buckets,
         CAST(MAX(k) AS BIGINT) AS max_bucket,
         CAST(SUM(pairs_k) AS BIGINT) AS candidate_pairs,
         CAST((SUM(n_k) + 9) // 10 AS BIGINT) AS quota
  FROM hist GROUP BY family)
SELECT c.family, t.n_band_rows, t.n_buckets, t.max_bucket,
       t.candidate_pairs,
       t.quota AS top_decile_buckets,
       CAST(c.cum_p - c.pairs_k + (t.quota - (c.cum_b - c.n_k))
            * ((c.k * (c.k - 1)) // 2) AS BIGINT) AS top_decile_pairs,
       CAST(c.cum_p - c.pairs_k + (t.quota - (c.cum_b - c.n_k))
            * ((c.k * (c.k - 1)) // 2) AS DOUBLE)
         / CAST(NULLIF(t.candidate_pairs, 0) AS DOUBLE)
         AS top_decile_share
FROM cum c JOIN totals t ON t.family = c.family
WHERE c.cum_b >= t.quota AND c.cum_b - c.n_k < t.quota
ORDER BY c.family
"""


SALT_TARGET_BUCKET_DOCS = 8   # per-bucket doc budget before salting


def band_salting_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """band_skew_audit's actuator — the maintenance-plan query (the
    shard_repack_plan / ivf_rebalance_plan pattern) that turns the
    bucket histogram into a per-family salting DECISION against a
    concrete budget: a band bucket holding more than
    SALT_TARGET_BUCKET_DOCS docs gets split into ceil(k / target)
    sub-buckets, exactly the mechanism dedup_minhash_lsh_salted
    implements with exact pair-set parity (hot rows replicated on one
    side so no pair is lost).

    Per family: bucket counts, the hot subset (k > target), the salt
    factor the hottest bucket needs, extra_rows — the replication cost
    the salted join pays (sum over hot buckets of k * (ceil(k/target)
    - 1) rows) — and max_bucket_after, the post-salt hottest bucket
    (<= target by the ceiling). action = 'salt' iff any bucket
    overflows; on the current fixtures every family reads 'none' at
    sf0.001 and the audit is the tripwire that flips it.

    Scale shape: one map-side-combinable aggregation over the shared
    banded-family rows; O(families) output, all-integer columns —
    nothing moves but counts."""
    t = SALT_TARGET_BUCKET_DOCS
    sizes = (_banded_family_rows(spark, sf_dir)
             .groupBy("family", "band_idx", "key")
             .agg(F.count(F.lit(1)).cast("long").alias("k"))
             .selectExpr("family", "k",
                         f"(k + {t} - 1) div {t} AS sk"))
    return (
        sizes.groupBy("family")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
             F.sum("k").cast("long").alias("band_rows"),
             F.max("k").cast("long").alias("max_bucket"),
             F.sum(F.when(F.col("k") > t, 1).otherwise(0))
             .cast("long").alias("n_hot_buckets"),
             F.sum(F.when(F.col("k") > t, F.col("k")).otherwise(0))
             .cast("long").alias("hot_band_rows"),
             F.max("sk").cast("long").alias("salt_factor"),
             F.sum(F.expr("k * (sk - 1)")).cast("long")
             .alias("extra_rows"),
             F.max(F.expr("(k + sk - 1) div sk")).cast("long")
             .alias("max_bucket_after"))
        .selectExpr("family", "n_buckets", "band_rows", "max_bucket",
                    f"CAST({t} AS BIGINT) AS target_bucket_docs",
                    "n_hot_buckets", "hot_band_rows", "salt_factor",
                    "extra_rows", "max_bucket_after",
                    "CASE WHEN salt_factor > 1 THEN 'salt' ELSE 'none'"
                    " END AS action")
        .orderBy("family")
    )


def _band_salting_policy_oracle() -> str:
    t = SALT_TARGET_BUCKET_DOCS
    return _banded_family_sizes_sql() + f""",
per AS (SELECT family, k, (k + {t} - 1) // {t} AS sk FROM sizes)
SELECT family,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(k) AS BIGINT) AS band_rows,
       CAST(MAX(k) AS BIGINT) AS max_bucket,
       CAST({t} AS BIGINT) AS target_bucket_docs,
       CAST(SUM(CASE WHEN k > {t} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hot_buckets,
       CAST(SUM(CASE WHEN k > {t} THEN k ELSE 0 END) AS BIGINT)
         AS hot_band_rows,
       CAST(MAX(sk) AS BIGINT) AS salt_factor,
       CAST(SUM(k * (sk - 1)) AS BIGINT) AS extra_rows,
       CAST(MAX((k + sk - 1) // sk) AS BIGINT) AS max_bucket_after,
       CASE WHEN MAX(sk) > 1 THEN 'salt' ELSE 'none' END AS action
FROM per GROUP BY family ORDER BY family
"""


QUERIES["band_salting_policy"] = band_salting_policy
ORACLES["band_salting_policy"] = _band_salting_policy_oracle()


QUERIES["band_skew_audit"] = band_skew_audit
ORACLES["band_skew_audit"] = _band_skew_oracle()


# ---------------------------------------------------------------------------
# jaccard threshold sensitivity sweep
# ---------------------------------------------------------------------------
JACCARD_SWEEP_STEPS = 20


def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What JACCARD_THRESHOLD actually buys — for each threshold t on a
    0.05 grid, how many candidate pairs score >= t: the sensitivity
    table a curator reads before committing a dedup run (the companion
    to quality_threshold_sweep's knob and lsh_banding_sweep's knob).
    Binning is EXACT integer arithmetic on the pair's own counts:
    b = (common * STEPS) DIV (n1 + n2 - common) — no FP rounding at
    grid boundaries (the same fix the quality sweep got in round 7).

    Scale shape: one pass over the df-capped candidate pairs (the
    machinery jaccard/containment share — NOT the thresholded pair
    table, which would clip the sweep at the current threshold), then a
    DESC running sum over the ~21-row bucket table. O(STEPS) post-scan
    state."""
    binned = df_capped_candidate_pairs(spark, sf_dir).selectExpr(
        f"CAST((common * {JACCARD_SWEEP_STEPS}) DIV (n1 + n2 - common) "
        f"AS INT) AS b")
    per_bucket = binned.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"))
    grid = spark.range(0, JACCARD_SWEEP_STEPS + 1).select(
        F.col("id").cast("int").alias("b"))
    w = Window.orderBy(F.col("b").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(per_bucket, "b", "left")
        .select("b", F.coalesce("n", F.lit(0)).alias("n"))
        .withColumn("n_pairs_ge", F.sum("n").over(w).cast("long"))
        .selectExpr(
            f"CAST(b AS DOUBLE) / {JACCARD_SWEEP_STEPS} AS threshold",
            "n_pairs_ge")
        .orderBy("threshold")
    )


JACCARD_SWEEP_SQL = f"""
{_CANDIDATE_CTES},
pairs_sized AS (
  SELECT cm.common, x.n AS n1, y.n AS n2
  FROM cm JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2),
binned AS (
  SELECT CAST((common * {JACCARD_SWEEP_STEPS}) // (n1 + n2 - common)
              AS INT) AS b
  FROM pairs_sized),
per_bucket AS (SELECT b, COUNT(*) AS n FROM binned GROUP BY b),
grid AS (SELECT unnest(range(0, {JACCARD_SWEEP_STEPS} + 1)) AS b),
cum AS (
  SELECT g.b, COALESCE(p.n, 0) AS n
  FROM grid g LEFT JOIN per_bucket p ON p.b = g.b)
SELECT CAST(b AS DOUBLE) / {JACCARD_SWEEP_STEPS} AS threshold,
       CAST(SUM(n) OVER (ORDER BY b DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_pairs_ge
FROM cum
ORDER BY threshold
"""

QUERIES["jaccard_threshold_sweep"] = jaccard_threshold_sweep
ORACLES["jaccard_threshold_sweep"] = JACCARD_SWEEP_SQL


# ---------------------------------------------------------------------------
# cosine threshold sensitivity sweep
# ---------------------------------------------------------------------------
COSINE_SWEEP_STEPS = 20   # thresholds -1.0, -0.9, ..., 1.0


def cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE_THRESHOLD's sensitivity table — pairs scoring >= t for
    each t on a 0.1 grid over [-1, 1], computed from the UNthresholded
    within-block scored pairs (the same salted blocked join the dedup
    query filters). Completes the knob-sweep family: jaccard threshold,
    quality threshold, LSH banding, phash banding, and now the
    embedding threshold. Binning floors an identical IEEE double in
    both engines (the cosine is a sequential fold), so the grid is
    hash-stable; `least` guards the exact +1.0 edge.

    Scale shape: one pass over the blocked pair stream, O(STEPS)
    post-scan state (the histogram-then-cumulate shape)."""
    binned = _blocked_cosine_scored(spark, sf_dir).selectExpr(
        f"least(CAST(floor((cosine + 1) * {COSINE_SWEEP_STEPS} / 2) "
        f"AS INT), {COSINE_SWEEP_STEPS}) AS b")
    per_bucket = binned.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    grid = spark.range(0, COSINE_SWEEP_STEPS + 1).select(
        F.col("id").cast("int").alias("b"))
    w = Window.orderBy(F.col("b").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(per_bucket, "b", "left")
        .select("b", F.coalesce("n", F.lit(0)).alias("n"))
        .withColumn("n_pairs_ge", F.sum("n").over(w).cast("long"))
        .selectExpr(
            f"CAST(b AS DOUBLE) * 2 / {COSINE_SWEEP_STEPS} - 1"
            " AS threshold",
            "n_pairs_ge")
        .orderBy("threshold")
    )


_COSINE_SCORED_CTES = f"""
{H.normed_ctes("nn")},
scored AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {H.cosine_sql('a', 'b')} AS cosine
  FROM nn a JOIN nn b ON a.label = b.label AND a.vec_id < b.vec_id)
"""

COSINE_SWEEP_SQL = f"""
WITH {_COSINE_SCORED_CTES},
binned AS (
  SELECT least(CAST(floor((cosine + 1) * {COSINE_SWEEP_STEPS} / 2)
               AS INT), {COSINE_SWEEP_STEPS}) AS b
  FROM scored),
per_bucket AS (SELECT b, COUNT(*) AS n FROM binned GROUP BY b),
grid AS (SELECT unnest(range(0, {COSINE_SWEEP_STEPS} + 1)) AS b),
cum AS (
  SELECT g.b, COALESCE(p.n, 0) AS n
  FROM grid g LEFT JOIN per_bucket p ON p.b = g.b)
SELECT CAST(b AS DOUBLE) * 2 / {COSINE_SWEEP_STEPS} - 1 AS threshold,
       CAST(SUM(n) OVER (ORDER BY b DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_pairs_ge
FROM cum
ORDER BY threshold
"""

QUERIES["cosine_threshold_sweep"] = cosine_threshold_sweep
ORACLES["cosine_threshold_sweep"] = COSINE_SWEEP_SQL


# ---------------------------------------------------------------------------
# hot-bucket salted band join — the salting hook band_skew_audit gates
# ---------------------------------------------------------------------------
# Rows-per-salt-group target. The registry query deliberately uses a cap
# small enough that the sf-scale fixtures produce multi-salt buckets (the
# minhash band max bucket is 4 at sf0.001 / 3 at sf0.01, so any larger cap
# would leave every bucket at n_salt=1 and the salting path untested —
# pinned by test_salted_band_candidates_cap_actually_splits); a cluster
# deployment sets this near the rows-per-task memory budget
# (e.g. 100_000) so only genuinely hot keys pay the replication.
SALT_BUCKET_CAP = 2


def salted_band_candidates(bands: DataFrame, key_cols: "list[str]",
                           cap: int = SALT_BUCKET_CAP) -> DataFrame:
    """Candidate (d1, d2) pairs from a banded signature frame, with HOT
    buckets split into bounded salt groups — the remedy band_skew_audit
    exists to trigger. Produces EXACTLY the same pair set as the plain
    ``a.join(b, key_cols).filter(d1 < d2).dropDuplicates()`` self-join
    (the registry oracle is the unsalted SQL, so the hash gate proves it).

    Mechanics: each bucket of size k gets n_salt = ceil(k / cap) salt
    groups; a row lands in group pmod(xxhash64(doc_id), n_salt). The left
    side replicates each row to every group >= its own (explode of
    sequence(salt, n_salt - 1)); the right side keeps its single group.
    Joining on (key_cols, salt_r) then yields every unordered pair exactly
    once per shared bucket, in ONE orientation (the lower-salt row on the
    left) — so pairs are normalized with least/greatest rather than a
    d1 < d2 filter, which would drop pairs whose lower-salt row has the
    higher id. Same-salt pairs arrive in both orientations plus self-pairs;
    the d1 != d2 filter and the dropDuplicates absorb them.

    Scale shape: the biggest join-side group shrinks from k (unbounded —
    one hot band value serializes a whole task and can OOM it) to ~cap,
    restoring per-task balance; total pair work is unchanged, and the left
    replication factor is ~(n_salt+1)/2 ONLY for rows in hot buckets —
    cold buckets (n_salt = 1) pay a single no-op explode. The bucket-size
    lookup is one map-side-combinable count plus a join that reuses the
    band-key exchange under AQE."""
    sizes = bands.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_bucket_n"))
    sized = (
        bands.join(sizes, key_cols)
        .withColumn("_n_salt",
                    F.greatest(F.lit(1),
                               F.ceil(F.col("_bucket_n") / F.lit(cap)))
                    .cast("int"))
        .withColumn("_salt",
                    F.pmod(F.xxhash64(F.col("doc_id")),
                           F.col("_n_salt")).cast("int"))
    )
    left = sized.select(
        F.col("doc_id").alias("da"), *key_cols,
        F.explode(F.sequence(F.col("_salt"),
                             F.col("_n_salt") - F.lit(1))).alias("_salt_r"))
    right = sized.select(
        F.col("doc_id").alias("db"), *key_cols,
        F.col("_salt").alias("_salt_r"))
    return (
        left.join(right, [*key_cols, "_salt_r"])
        .filter(F.col("da") != F.col("db"))
        .select(F.least("da", "db").alias("d1"),
                F.greatest("da", "db").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def dedup_minhash_lsh_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with the hot-bucket salted band join swapped in
    for the plain bucket self-join — identical output (the oracle IS the
    unsalted minhash SQL), different physical shape: no single band
    bucket ever forms a join group larger than ~SALT_BUCKET_CAP rows, so
    a boilerplate-heavy corpus whose hottest band value collects 10^6
    docs no longer serializes (or OOMs) one task. This is the production
    switch a curator flips when band_skew_audit reports a hot max_bucket
    / top-decile concentration; the generic helper applies unchanged to
    the phash/afp hamming bands (same (doc_id, band_idx, band_val)
    shape)."""
    sh = session_memo(spark, ("shingled_nonempty", sf_dir),
                      lambda: _shingled(spark, sf_dir, non_empty=True))
    # r16: salt the memoized LSH index (minhash_band_table)
    cand = salted_band_candidates(
        minhash_band_table(spark, sf_dir), ["band_idx", "signature"])
    return verified_jaccard_pairs(join_shingles_onto_pairs(cand, sh))


QUERIES["dedup_minhash_lsh_salted"] = dedup_minhash_lsh_salted
ORACLES["dedup_minhash_lsh_salted"] = _minhash_lsh_oracle()


def dedup_image_phash_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_image_phash with the hot-bucket salted band join swapped in
    — the claim in dedup_minhash_lsh_salted's docstring ("the generic
    helper applies unchanged to the phash/afp hamming bands") made
    checkable: identical output (the oracle IS the unsalted phash SQL,
    so the hash gate proves exact pair-set parity), but no strided band
    bucket ever forms a join group larger than ~SALT_BUCKET_CAP rows.
    This is what band_salting_policy's action='salt' row would deploy
    for the image family.

    Scale shape: the band frame carries only (doc_id, band_idx,
    band_val) — the 8-byte signatures are joined onto the PAIR table
    after the salted shuffle, the signature-only-shuffle discipline
    shared with the minhash path."""
    ph = _phash_signatures(spark, sf_dir)
    bands = explode_bands(ph, band_exprs("phash", PROD_BANDS56, "spark"),
                          "doc_id")
    cand = salted_band_candidates(bands, BAND_COLS)
    p1 = ph.select(F.col("doc_id").alias("d1"), F.col("phash").alias("p1"))
    p2 = ph.select(F.col("doc_id").alias("d2"), F.col("phash").alias("p2"))
    return (
        cand.join(p1, "d1").join(p2, "d2")
        .withColumn("hamming", F.expr(H.hamming("p1", "p2", "spark")))
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )


QUERIES["dedup_image_phash_salted"] = dedup_image_phash_salted
ORACLES["dedup_image_phash_salted"] = _image_phash_oracle()


# ---------------------------------------------------------------------------
# combinatorial (2-of-5) banding: the birthday-regime remedy
# ---------------------------------------------------------------------------
def dedup_image_phash_bandpairs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """dedup_image_phash re-blocked on combinatorial 2-of-5 band pairs —
    IDENTICAL output (the oracle is the unsalted 4x14 phash SQL; both
    schemes are exact for hamming <= 3, so the hash gate proves the
    equivalence), different candidate-volume curve: single 14-bit bands
    go birthday-quadratic once docs >> 16k x target-occupancy, while
    the ~2^23 composite key space defers that cliff by ~500x corpus
    growth. phash_blocking_scheme_audit carries the per-scheme numbers;
    the scale probe measures them at 500k docs."""
    return _sig_pairs(_phash_signatures(spark, sf_dir), "phash", PAIRS56,
                      PHASH_HAMMING_MAX)


QUERIES["dedup_image_phash_bandpairs"] = dedup_image_phash_bandpairs
ORACLES["dedup_image_phash_bandpairs"] = _image_phash_oracle()


def _scheme_audit(schemes, hamming_max: int) -> DataFrame:
    """Per (scheme, signature frame, sig column, layout): n_band_rows,
    n_buckets, max_bucket_size, n_candidates, n_verified and
    candidate_precision of the scheme's own band self-join."""
    out = None
    for scheme, sigs, sig, layout in schemes:
        bands = explode_bands(sigs, band_exprs(sig, layout, "spark"),
                              "doc_id", sig)
        buckets = (bands.groupBy("band_idx", "band_val")
                   .agg(F.count(F.lit(1)).alias("sz"))
                   .agg(F.sum("sz").cast("long").alias("n_band_rows"),
                        F.count(F.lit(1)).cast("long").alias("n_buckets"),
                        F.max("sz").cast("long").alias("max_bucket_size")))
        cand = (banded_pairs(bands, sig)
                .withColumn("hm", F.expr(H.hamming("s1", "s2", "spark")))
                .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"),
                     F.sum(F.when(F.col("hm") <= hamming_max, 1)
                           .otherwise(0)).cast("long").alias("n_verified")))
        row = (buckets.crossJoin(cand).selectExpr(
            f"'{scheme}' AS scheme", "n_band_rows", "n_buckets",
            "max_bucket_size", "n_candidates", "n_verified",
            "CAST(n_verified AS DOUBLE)"
            " / CAST(nullif(n_candidates, 0) AS DOUBLE)"
            " AS candidate_precision"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("scheme")


def phash_blocking_scheme_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Single-band (strided 4x14) vs combinatorial band-pair (2-of-5)
    blocking for the SAME 56-bit hash, measured like the layout audit:
    n_band_rows, n_buckets, max_bucket_size, n_candidates, n_verified,
    candidate_precision per scheme. Both schemes are exact for
    hamming <= 3 (pigeonhole; pair-wise intactness for 2-of-5), so
    n_verified MUST agree — the delta is pure candidate volume, and
    WHICH scheme wins flips with corpus size: at sf fixtures the 4x14
    single bands produce fewer band rows (4 vs 10/doc) and both stay
    near-designed candidates; past ~10^5 docs the single-band bucket
    space saturates and the pair scheme's ~2^23 keys keep occupancy
    << 1 (SCALING.md, 100x probe). This table is what a 100 TB
    deployment consults (on a sample) to pick the blocking BEFORE the
    join ships."""
    ph = _phash_signatures(spark, sf_dir)
    return _scheme_audit([("band4x14_strided", ph, "phash", PROD_BANDS56),
                          ("bandpairs_2of5", ph, "phash", PAIRS56)],
                         PHASH_HAMMING_MAX)


def _blocking_scheme_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        PHASH_ORACLE_CTES,
    )
    return _scheme_audit_sql(
        PHASH_ORACLE_CTES,
        [("band4x14_strided", "ph", "phash", PROD_BANDS56),
         ("bandpairs_2of5", "ph", "phash", PAIRS56)],
        PHASH_HAMMING_MAX, "scheme")


QUERIES["phash_blocking_scheme_audit"] = phash_blocking_scheme_audit
ORACLES["phash_blocking_scheme_audit"] = _blocking_scheme_oracle()


# ---------------------------------------------------------------------------
# video fingerprint dedup family (per-frame dHash + M-of-K frame match)
# (constants live above the band-skew section, which uses them at import)
# ---------------------------------------------------------------------------


def _vfp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, frame_idx, vfh) — the synth+PNG-round-trip+hash
    Python stage runs ONCE per (session, dataset); the band self-join,
    the verify joins, the incremental form, and the match sweep all
    consume the materialized frame (VFP_FRAMES rows per doc — the
    signature-only-shuffle discipline shared with the other families)."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal

    def build() -> DataFrame:
        return multimodal.video_fingerprint_table(spark, sf_dir) \
            .transform(cut_lineage)
    return session_memo(spark, ("video_vfp", sf_dir), build)


def _vfp_bands(vf: DataFrame, layout: Layout = PROD_BANDS56) -> DataFrame:
    return explode_bands(vf, band_exprs("vfh", layout, "spark"),
                         "doc_id", "frame_idx")


def _vfp_frame_match_counts(cand: DataFrame, vf: DataFrame) -> DataFrame:
    """(d1, d2) candidates -> (d1, d2, frames_matched): join both clips'
    frame-hash ARRAYS (one row per doc, frames sorted by frame_idx) and
    count in-gate frames with a zip_with fold — no per-frame join rows.
    The former shape joined the per-frame table twice (VFP_FRAMES rows
    per clip per side) and re-aggregated; folding the frames into a
    doc-level array first moves 1/VFP_FRAMES the rows through the two
    verify joins and skips the re-aggregation entirely (measured at
    500k docs: the verify stage is the whole steady wall once band-pair
    blocking makes candidates linear). The candidate table is
    pair-sized, so AQE downgrades both joins to broadcast-hash when
    small."""
    docs = (vf.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("frame_idx", "vfh")))
                 .alias("fr")))
    v1 = docs.select(F.col("doc_id").alias("d1"), F.col("fr").alias("f1"))
    v2 = docs.select(F.col("doc_id").alias("d2"), F.col("fr").alias("f2"))
    in_gate = (f"CASE WHEN {H.hamming('x.vfh', 'y.vfh', 'spark')}"
               f" <= {VFP_HAMMING_MAX} THEN 1 ELSE 0 END")
    return (
        cand.join(v1, "d1").join(v2, "d2")
        .withColumn(
            "frames_matched",
            F.expr(f"CAST(aggregate(zip_with(f1, f2, (x, y) -> {in_gate}),"
                   f" 0, (acc, v) -> acc + v) AS BIGINT)"))
        .select("d1", "d2", "frames_matched")
    )


def _vfp_matches(vf: DataFrame, layout: Layout = PROD_BANDS56,
                 is_new: "F.Column | None" = None) -> DataFrame:
    """(d1, d2, frames_matched) for pairs meeting the M-of-K rule: the
    per-frame band join keyed (frame_idx, band_idx, band_val) yields doc
    candidates, the frame-aligned fold verifies them; ``is_new`` selects
    the incremental form. Unordered."""
    cand = banded_pairs(_vfp_bands(vf, layout), keys=["frame_idx"],
                        is_new=is_new, keep=["d1", "d2"])
    return (_vfp_frame_match_counts(cand, vf)
            .filter(F.col("frames_matched") >= VFP_MIN_FRAMES))


def dedup_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs: per-frame decoded pixels -> per-frame
    56-bit dHash (multimodal.video_fingerprint_frame, the only Python
    stage, scan-local) -> per-(frame, band) explode -> bucketed candidate
    self-join keyed (frame_idx, band_idx, band_val) -> frame-aligned
    hamming verify -> M-of-K rule: a pair is a near-dup iff at least
    VFP_MIN_FRAMES of its VFP_FRAMES aligned frames are within
    VFP_HAMMING_MAX.

    EXACTNESS: M >= 1, so every qualifying pair has some frame with
    hamming <= 3 < 4 bands; by pigeonhole that frame shares a band value
    with its counterpart, and the (frame_idx, band_idx, band_val) join
    emits the pair — the per-frame blocking theorem lifts to the M-of-K
    criterion unchanged. The synthetic corpus pins the rule AT its
    threshold: designed pairs agree on 3 of 4 frames (the last frame
    diverges by construction, modulo a rare in-gate scatter), so M=4
    rejects nearly everything and M<=3 accepts — the frames_matched=3
    column values are the visible proof.

    Scale shape: signatures are VFP_FRAMES x 16 bytes/doc; the band join
    shuffles (frame, band) keyed id rows only — frames never leave the
    scan stage. Candidates stay O(colliding frame pairs)."""
    return _vfp_matches(_vfp_signatures(spark, sf_dir)).orderBy("d1", "d2")


def _vfp_oracle_prefix(layout: Layout = ORACLE_BANDS56,
                       is_new: "str | None" = None) -> str:
    """The video oracles' CTE prefix: doc candidates of the per-frame
    band join (``cand``) and their frame-aligned match counts
    (``matched``). Verified-pair oracles band contiguously; oracles whose
    OUTPUT depends on the candidate set (vfp_frame_match_sweep) pass the
    production layout."""
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        VFP_ORACLE_CTES,
    )
    cand = banded_pairs_sql("vft", "vfh", layout, keys=["frame_idx"],
                            has_sig=False, is_new=is_new)
    return f"""
WITH {VFP_ORACLE_CTES.strip()},
{cand},
matched AS (
  SELECT c.d1, c.d2,
         CAST(SUM(CASE WHEN {H.hamming('x.vfh', 'y.vfh', 'duck')}
                       <= {VFP_HAMMING_MAX} THEN 1 ELSE 0 END)
              AS BIGINT) AS frames_matched
  FROM cand c
  JOIN vft x ON x.doc_id = c.d1
  JOIN vft y ON y.doc_id = c.d2 AND y.frame_idx = x.frame_idx
  GROUP BY c.d1, c.d2)
"""


def _video_fingerprint_oracle() -> str:
    return (_vfp_oracle_prefix()
            + f"""
SELECT d1, d2, frames_matched FROM matched
WHERE frames_matched >= {VFP_MIN_FRAMES}
ORDER BY d1, d2
""")


QUERIES["dedup_video_fingerprint"] = dedup_video_fingerprint
ORACLES["dedup_video_fingerprint"] = _video_fingerprint_oracle()


def vfp_frame_match_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What VFP_MIN_FRAMES actually buys — for each M in 0..VFP_FRAMES,
    how many candidate pairs match at least M frames: the sensitivity
    table for the M-of-K knob (the analog of jaccard_threshold_sweep for
    the frame-match rule; the banding knob already has three sweeps, the
    match-count knob has none). On the synthetic corpus the M=4 row
    collapsing to ~0 while M=3 holds the designed pairs is the visible
    proof the threshold sits on a cliff, not a plateau.

    The candidate set is the PRODUCTION (strided) band join, so the
    low-M rows count real production candidates — unlike the verified
    pair set, these counts ARE layout-dependent, and the oracle mirrors
    the strided layout.

    Scale shape: one pass over the candidate frame-match counts, then a
    cumulative sum over a (VFP_FRAMES+1)-row grid. O(K) post-scan
    state."""
    vf = _vfp_signatures(spark, sf_dir)
    cand = banded_pairs(_vfp_bands(vf), keys=["frame_idx"],
                        keep=["d1", "d2"])
    per_m = (_vfp_frame_match_counts(cand, vf)
             .groupBy("frames_matched")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        VFP_FRAMES,
    )
    grid = spark.range(0, VFP_FRAMES + 1).select(
        F.col("id").cast("long").alias("min_frames"))
    w = Window.orderBy(F.col("min_frames").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(per_m, grid.min_frames == per_m.frames_matched, "left")
        .select("min_frames", F.coalesce("n", F.lit(0)).alias("n"))
        .withColumn("n_pairs_ge", F.sum("n").over(w).cast("long"))
        .select("min_frames", "n_pairs_ge")
        .orderBy("min_frames")
    )


def _vfp_sweep_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        VFP_FRAMES,
    )
    return (_vfp_oracle_prefix(PROD_BANDS56)
            + f""",
per_m AS (SELECT frames_matched, CAST(COUNT(*) AS BIGINT) AS n
          FROM matched GROUP BY frames_matched),
grid AS (SELECT CAST(unnest(range(0, {VFP_FRAMES} + 1)) AS BIGINT)
                AS min_frames),
cum AS (SELECT g.min_frames, COALESCE(p.n, 0) AS n
        FROM grid g LEFT JOIN per_m p ON p.frames_matched = g.min_frames)
SELECT min_frames,
       CAST(SUM(n) OVER (ORDER BY min_frames DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_pairs_ge
FROM cum
ORDER BY min_frames
""")


QUERIES["vfp_frame_match_sweep"] = vfp_frame_match_sweep
ORACLES["vfp_frame_match_sweep"] = _vfp_sweep_oracle()


def _vfp_incremental(vf: DataFrame, layout: Layout) -> DataFrame:
    return (_vfp_matches(vf, layout,
                         is_new=(F.col("doc_id") % 4) == VFP_INCREMENTAL_NEW)
            .select(F.col("d1").alias("new_id"), F.col("d2").alias("dup_of"),
                    "frames_matched")
            .orderBy("new_id", "dup_of"))


def dedup_video_fingerprint_incremental(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Delta-ingest video dedup — the incremental asymmetry of the
    minhash/phash/afp forms applied to the per-frame hash: an incoming
    batch's (frame, band) rows join the EXISTING corpus's rows plus the
    batch's OWN rows (d1 < d2 — the intra-batch join is the shared
    convention since round 8); existing x existing never materializes.
    The growth convention doc_id % 4 == 1 puts the LATER member of every
    designed pair in the batch, so the designed near-dups all cross the
    boundary and must be caught by the cross join.

    At 100 TB the existing side's (doc_id, frame_idx, vfh, band) rows
    are a persisted artifact (VFP_FRAMES x ~20 bytes per doc, written at
    ingest); per-ingest cost is O(batch + matched buckets). Output:
    (new_id, dup_of, frames_matched) under the same M-of-K rule as the
    batch form."""
    return _vfp_incremental(_vfp_signatures(spark, sf_dir), PROD_BANDS56)


def _video_fingerprint_incremental_oracle() -> str:
    return (_vfp_oracle_prefix(
        is_new=f"{{}}.doc_id % 4 = {VFP_INCREMENTAL_NEW}")
        + f"""
SELECT d1 AS new_id, d2 AS dup_of, frames_matched FROM matched
WHERE frames_matched >= {VFP_MIN_FRAMES}
ORDER BY new_id, dup_of
""")


QUERIES["dedup_video_fingerprint_incremental"] = \
    dedup_video_fingerprint_incremental
ORACLES["dedup_video_fingerprint_incremental"] = \
    _video_fingerprint_incremental_oracle()


# ---------------------------------------------------------------------------
# cross-media method agreement (image x audio x video dup-graph overlap)
# ---------------------------------------------------------------------------
def multimodal_method_agreement(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Do the three media dup graphs agree? For every pair flagged by
    ANY of the image-phash, audio-fingerprint, or video-fingerprint
    families, which families flagged it — grouped into the 7 possible
    flag combinations with pair counts. The media counterpart of
    dedup_method_agreement (text lexical vs embedding): before deleting
    on ONE modality's graph, a curator reads this table to see whether
    the modalities corroborate each other (the synthetic corpora share
    the (4k, 4k+1) pair design, so the all-three row dominating is the
    expected healthy shape; mass in single-family rows flags signatures
    drifting apart).

    Cost: all three signature frames are session-memoized artifacts;
    the band joins are the same candidate-bounded shapes as the batch
    queries, the two full-outer joins are pair-table-sized, and the
    output is a <= 7-row combinable aggregation."""
    def pair_ids(sigs: DataFrame, sig: str, hamming_max: int) -> DataFrame:
        return banded_pairs(
            explode_bands(sigs, band_exprs(sig, PROD_BANDS56, "spark"),
                          "doc_id", sig),
            sig, hamming_max=hamming_max, keep=["d1", "d2"])
    img = pair_ids(_phash_signatures(spark, sf_dir), "phash",
                   PHASH_HAMMING_MAX).withColumn("bi", F.lit(1))
    aud = pair_ids(_afp_signatures(spark, sf_dir), "afp",
                   AFP_HAMMING_MAX).withColumn("ba", F.lit(1))
    vid = (_vfp_matches(_vfp_signatures(spark, sf_dir))
           .select("d1", "d2").withColumn("bv", F.lit(1)))
    merged = (img.join(aud, ["d1", "d2"], "full_outer")
              .join(vid, ["d1", "d2"], "full_outer"))
    return (
        merged.select(
            (F.coalesce("bi", F.lit(0)) == 1).alias("by_image"),
            (F.coalesce("ba", F.lit(0)) == 1).alias("by_audio"),
            (F.coalesce("bv", F.lit(0)) == 1).alias("by_video"))
        .groupBy("by_image", "by_audio", "by_video")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("by_image"), F.desc("by_audio"),
                 F.desc("by_video"))
    )


def _multimodal_agreement_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
        PHASH_ORACLE_CTES,
    )
    ham = H.hamming("s1", "s2", "duck")
    return _vfp_oracle_prefix() + f""",
{PHASH_ORACLE_CTES.strip()},
{AFP_ORACLE_CTES.strip()},
{banded_pairs_sql('ph', 'phash', ORACLE_BANDS56, tag='_i')},
{banded_pairs_sql('afpt', 'afp', ORACLE_BANDS56, tag='_a')},
ip AS (SELECT DISTINCT d1, d2 FROM cand_i
       WHERE {ham} <= {PHASH_HAMMING_MAX}),
ap AS (SELECT DISTINCT d1, d2 FROM cand_a
       WHERE {ham} <= {AFP_HAMMING_MAX}),
vp AS (SELECT d1, d2 FROM matched
       WHERE frames_matched >= {VFP_MIN_FRAMES}),
allp AS (
  SELECT d1, d2 FROM ip UNION
  SELECT d1, d2 FROM ap UNION
  SELECT d1, d2 FROM vp),
flagged AS (
  SELECT (i.d1 IS NOT NULL) AS by_image,
         (a.d1 IS NOT NULL) AS by_audio,
         (v.d1 IS NOT NULL) AS by_video
  FROM allp p
  LEFT JOIN ip i ON i.d1 = p.d1 AND i.d2 = p.d2
  LEFT JOIN ap a ON a.d1 = p.d1 AND a.d2 = p.d2
  LEFT JOIN vp v ON v.d1 = p.d1 AND v.d2 = p.d2)
SELECT by_image, by_audio, by_video,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM flagged
GROUP BY by_image, by_audio, by_video
ORDER BY by_image DESC, by_audio DESC, by_video DESC
"""


QUERIES["multimodal_method_agreement"] = multimodal_method_agreement
ORACLES["multimodal_method_agreement"] = _multimodal_agreement_oracle()


# ---------------------------------------------------------------------------
# band layout audit, all three 56-bit families (contiguous vs strided)
# ---------------------------------------------------------------------------
def band_layout_audit_multimodal(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """phash_band_layout_audit generalized to every 56-bit perceptual
    signature — the one table that justifies the fleet-wide production
    switch to strided banding (PROD_BANDS56). Per (family, layout):
    n_buckets, max_bucket_size, n_candidates, n_verified,
    candidate_precision over the family's own band self-join.

    The UNIT is one aligned signature: a whole doc for image/audio, a
    (doc, frame_idx) frame for video — exactly the granularity each
    production band join keys on, so n_candidates here IS the verify
    work that join would ship. n_verified (hamming <= 3 unit pairs) is
    LAYOUT-INDEPENDENT by pigeonhole (any 4-way bit partition catches
    every <=3-bit pair) — pytest-pinned — so the per-family delta in
    candidates/buckets is pure layout cost, the number the strided
    switch banks.

    Scale shape: three memoized signature passes (shared with the dedup
    families); ONE unified (family, layout)-tagged band frame — each
    signature frame explodes both layouts' bands in a single pass —
    feeding ONE bucket histogram, ONE band self-join keyed on (family,
    layout, align, band_idx, band_val), and one roll-up each, instead
    of 6 per-combination shuffle trees. No pixels/samples move."""
    fams = [
        ("audio_afp",
         _afp_signatures(spark, sf_dir).select(
             "doc_id", F.lit(0).alias("align"), F.col("afp").alias("sig")),
         AFP_N_BANDS, AFP_HAMMING_MAX),
        ("image_phash",
         _phash_signatures(spark, sf_dir).select(
             "doc_id", F.lit(0).alias("align"),
             F.col("phash").alias("sig")),
         PHASH_N_BANDS, PHASH_HAMMING_MAX),
        ("video_vfh_frame",
         _vfp_signatures(spark, sf_dir).select(
             "doc_id", F.col("frame_idx").alias("align"),
             F.col("vfh").alias("sig")),
         VFP_N_BANDS, VFP_HAMMING_MAX),
    ]
    bands = None
    hmax_expr = None
    for family, sigs, n_bands, hmax in fams:
        exprs = (band_exprs("sig", Layout("contiguous", n_bands), "spark")
                 + band_exprs("sig", Layout("strided", n_bands), "spark"))
        fb = sigs.select(
            F.lit(family).alias("family"), "doc_id", "align", "sig",
            F.posexplode(F.array(*[F.expr(e) for e in exprs]))
            .alias("k", "band_val"),
        ).select(
            "family",
            F.when(F.col("k") < n_bands, F.lit("contiguous"))
            .otherwise(F.lit("strided")).alias("layout"),
            "doc_id", "align", "sig",
            (F.col("k") % n_bands).alias("band_idx"), "band_val")
        bands = fb if bands is None else bands.unionByName(fb)
    # per-family verify threshold (all 3 at hamming<=3 today; keep the
    # lookup so a per-family change can't silently skew n_verified)
    for family, _, _, hmax in fams:
        cond = (F.col("family") == family, F.lit(hmax))
        hmax_expr = F.when(*cond) if hmax_expr is None \
            else hmax_expr.when(*cond)
    keys = ["family", "layout"]
    buckets = (
        bands.groupBy(*keys, "align", "band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
             F.max("sz").cast("long").alias("max_bucket_size")))
    a = bands.select(*keys, "align", "band_idx", "band_val",
                     F.col("doc_id").alias("d1"), F.col("sig").alias("s1"))
    b = bands.select(*keys, "align", "band_idx", "band_val",
                     F.col("doc_id").alias("d2"), F.col("sig").alias("s2"))
    cand = (
        band_join(a, b, [*keys, "align"])
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates([*keys, "d1", "d2", "align"])
        .withColumn("hm", F.expr(H.hamming("s1", "s2", "spark")))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"),
             F.sum(F.when(F.col("hm") <= hmax_expr, 1).otherwise(0))
             .cast("long").alias("n_verified")))
    # explicit (family, layout) universe: a combination with zero band
    # rows or zero candidates must still report its row (per-group
    # aggregates emit nothing for it on an empty/pairless corpus — the
    # same guard as lsh_banding_sweep's config universe)
    universe = spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(fam).alias("family"), F.lit(lay).alias("layout"))
        for fam, _, _, _ in fams
        for lay in ("contiguous", "strided")])).alias("c")
    ).select("c.family", "c.layout")
    return (
        universe
        .join(buckets, keys, "left")
        .join(cand, keys, "left")
        .selectExpr(
            "family", "layout",
            "CAST(coalesce(n_buckets, 0) AS BIGINT) AS n_buckets",
            "max_bucket_size",
            "CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates",
            "CAST(coalesce(n_verified, 0) AS BIGINT) AS n_verified",
            "CAST(coalesce(n_verified, 0) AS DOUBLE)"
            " / CAST(nullif(coalesce(n_candidates, 0), 0) AS DOUBLE)"
            " AS candidate_precision")
        .orderBy("family", "layout")
    )


def _band_layout_multimodal_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
        PHASH_ORACLE_CTES,
        VFP_ORACLE_CTES,
    )
    ctes = [PHASH_ORACLE_CTES.strip(), AFP_ORACLE_CTES.strip(),
            VFP_ORACLE_CTES.strip()]
    # normalize the three signature tables to (doc_id, align, sig)
    ctes.append("u_image_phash AS (SELECT doc_id, 0 AS align, "
                "phash AS sig FROM ph)")
    ctes.append("u_audio_afp AS (SELECT doc_id, 0 AS align, "
                "afp AS sig FROM afpt)")
    ctes.append("u_video_vfh_frame AS (SELECT doc_id, frame_idx AS align, "
                "vfh AS sig FROM vft)")
    selects = []
    for family, n_bands, hmax in (
        ("image_phash", PHASH_N_BANDS, PHASH_HAMMING_MAX),
        ("audio_afp", AFP_N_BANDS, AFP_HAMMING_MAX),
        ("video_vfh_frame", VFP_N_BANDS, VFP_HAMMING_MAX),
    ):
        for layout_name in ("contiguous", "strided"):
            tag = f"_{family}_{layout_name[:4]}"
            ctes.append(banded_pairs_sql(
                f"u_{family}", "sig", Layout(layout_name, n_bands),
                keys=["align"], carry=["align"], tag=tag))
            ctes.append(
                f"bk{tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS "
                f"n_buckets, CAST(MAX(sz) AS BIGINT) AS max_bucket_size "
                f"FROM (SELECT align, band_idx, band_val, COUNT(*) AS sz "
                f"FROM bands{tag} GROUP BY align, band_idx, band_val) h)")
            ctes.append(
                f"agg{tag} AS (SELECT CAST(COUNT(*) AS BIGINT) AS "
                f"n_candidates, CAST(SUM(CASE WHEN "
                f"{H.hamming('s1', 's2', 'duck')} <= {hmax} "
                f"THEN 1 ELSE 0 END) AS BIGINT) AS n_verified "
                f"FROM cand{tag})")
            selects.append(
                f"SELECT '{family}' AS family, '{layout_name}' AS layout, "
                f"n_buckets, max_bucket_size, n_candidates, n_verified, "
                f"CAST(n_verified AS DOUBLE)"
                f" / CAST(NULLIF(n_candidates, 0) AS DOUBLE)"
                f" AS candidate_precision FROM bk{tag} "
                f"CROSS JOIN agg{tag}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects)
            + "\nORDER BY family, layout")


QUERIES["band_layout_audit_multimodal"] = band_layout_audit_multimodal
ORACLES["band_layout_audit_multimodal"] = _band_layout_multimodal_oracle()


def dedup_video_fingerprint_bandpairs(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """dedup_video_fingerprint re-blocked on the combinatorial 2-of-5
    band pairs, per frame — the remedy applied WHERE the 100x probe
    measured the cliff (video steady 73 s at 500k docs, e~1.55, because
    2M frame rows over 16k single-band values go birthday-quadratic).
    Per-frame exactness is unchanged (hamming <= 3 leaves >= 2 of 5
    sub-bands intact), so the M-of-K theorem lifts identically and the
    oracle IS dedup_video_fingerprint's SQL — the hash gate proves the
    re-blocking loses nothing. The scale probe's video_vfh_c2 family
    measures what it buys at 100x."""
    return (_vfp_matches(_vfp_signatures(spark, sf_dir), PAIRS56)
            .orderBy("d1", "d2"))


QUERIES["dedup_video_fingerprint_bandpairs"] = \
    dedup_video_fingerprint_bandpairs
ORACLES["dedup_video_fingerprint_bandpairs"] = _video_fingerprint_oracle()


def dedup_audio_fingerprint_bandpairs(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """dedup_audio_fingerprint under the combinatorial 2-of-5 band-pair
    blocking — completing the scheme's coverage of the 56-bit families
    (image and video have theirs): identical output (oracle = the
    unsalted single-band afp SQL; hamming <= 3 leaves >= 2 of 5
    sub-bands intact), candidate volume on the band-pair curve. The
    same SCALING.md crossover guidance applies: single strided bands
    below ~16k-bucket occupancy, band pairs past it."""
    return _sig_pairs(_afp_signatures(spark, sf_dir), "afp", PAIRS56,
                      AFP_HAMMING_MAX)


QUERIES["dedup_audio_fingerprint_bandpairs"] = \
    dedup_audio_fingerprint_bandpairs
ORACLES["dedup_audio_fingerprint_bandpairs"] = _audio_fingerprint_oracle()


# ---------------------------------------------------------------------------
# 64-bit simhash: the widened-sketch remedy for the 32-bit birthday cap
# ---------------------------------------------------------------------------
SIMHASH64_BITS = H.SIMHASH64_BITS   # 62 informative bits (2x31, rehash64)
PAIRS62 = Layout("pairs", PHASH_C2_N_SUB, SIMHASH64_BITS)
SIMHASH64_ORACLE_BANDS = Layout("contiguous", 4, 64)   # 4 x 16-bit bands


def _simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, simhash) at the widened width — per-element
    rehash64 widening + one 62-counter fold, scan-local codegen; shared
    by the dedup query, the width audit, and the candidate-volume
    census (the same signature-only-shuffle discipline as the other
    families).

    non_empty=True (the minhash convention, ADVICE r10): a zero-token
    doc has no shingles, and the majority vote '2*ones >= n' with n=0
    sets EVERY bit — all empty docs would share the all-ones signature
    and emit O(n_empty^2) hamming-0 "duplicates" from the hottest
    bucket. A family positioned as a production near-dup detector
    excludes them instead (empty docs are exact-dedup's job,
    dedup_exact groups them in one hash bucket). The 32-bit family
    keeps its band-all-docs semantics deliberately: it is the
    DOCUMENTED coarse prefilter whose pathologies the width audit
    exists to demonstrate."""
    def build() -> DataFrame:
        return _shingled(spark, sf_dir, non_empty=True).selectExpr(
            "doc_id",
            f"{H.simhash(H.rehash64('sh', 'spark'), 'spark', SIMHASH64_BITS)}"
            " AS simhash",
        ).transform(cut_lineage)
    return session_memo(spark, ("simhash64_signatures", sf_dir), build)


def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash with the sketch widened to 62 informative bits (two
    independent 31-bit streams per shingle — see hashing.rehash64) and
    blocked on combinatorial 2-of-5 strided band pairs — the remedy
    SCALING.md's blocking-space census prescribed in prose for the ONE
    family whose birthday cliff sits below test scale (32-bit simhash:
    2^8 values per 8-bit band, occupancy ~1 at ~10^3-10^4 docs; band
    pairs over 32 bits would only reach ~2^13). The widened sketch's
    2-of-5 composite keys span ~2^25-2^26 values, putting the cliff at
    ~10^7-10^8 docs — the same curve the 56-bit perceptual families ride.

    Exactness: hamming <= 3 (HAMMING_MAX) differing bits touch <= 3 of
    the 5 strided sub-bands, so >= 2 stay intact and their composite
    pair key collides — the banded join is EXACT over the d<=3 pair set.
    The oracle blocks on 4 contiguous 16-bit bands (also exact for d<=3
    by pigeonhole), so the hash gate proves scheme-independence of the
    output, same as the phash/afp/vfp bandpair queries.

    Scale shape: signatures are 8 bytes/doc, built once per (session,
    dataset); the join shuffles (band_idx, band_val)-keyed signature
    rows only (10/doc). Candidates are O(colliding pairs), never all
    pairs. Near-dup semantics at 62 bits are STRICTER per hamming unit
    than at 32 (more bits must agree), which is the point: the coarse
    prefilter becomes a usable near-dup detector once the sketch is
    wide enough to band."""
    return _sig_pairs(_simhash64_signatures(spark, sf_dir), "simhash",
                      PAIRS62, HAMMING_MAX)


_SIM64_CTES = f"""
toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
sim AS (SELECT doc_id,
        {H.simhash(H.rehash64('sh', 'duck'), 'duck', SIMHASH64_BITS)}
        AS simhash FROM shl WHERE len(sh) > 0)"""


def _simhash64_oracle() -> str:
    return _sig_pairs_oracle(_SIM64_CTES, "sim", "simhash", HAMMING_MAX,
                             layout=SIMHASH64_ORACLE_BANDS)


QUERIES["dedup_simhash64"] = dedup_simhash64
ORACLES["dedup_simhash64"] = _simhash64_oracle()


def _simhash32_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, simhash) at 32 bits, shared by dedup_simhash,
    the width audit, the census and the rollover report: the band
    self-join consumes BOTH sides of this frame, and without the
    checkpoint each side re-evaluates the full tokenize->shingle->simhash
    expression tree over the corpus."""
    def build() -> DataFrame:
        return _shingled(spark, sf_dir).selectExpr(
            "doc_id", f"{H.simhash('sh', 'spark')} AS simhash"
        ).transform(cut_lineage)
    return session_memo(spark, ("simhash_signatures", sf_dir), build)


def simhash_width_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking-space census row for the simhash family, measured:
    per (scheme) — 32-bit/4x8-band vs 62-bit/2-of-5 band pairs —
    n_band_rows, n_buckets, max_bucket_size, and n_candidates of the
    scheme's own band self-join. The 32-bit scheme's key space is
    4 x 2^8 = 1,024 buckets TOTAL, so its candidate count goes
    birthday-quadratic at ~10^3-10^4 docs regardless of content; the
    widened scheme's ~2^25-26-value pair keys keep occupancy << 1 until
    ~10^7-10^8. n_verified is per-family (hamming <= 3 at the family's
    own width) and NOT comparable across rows — the census column that
    matters is candidates per doc. This is the table a 100 TB deployment
    consults (on a sample) before choosing the text prefilter, the same
    role phash_blocking_scheme_audit plays for the image family."""
    return _scheme_audit(
        [("simhash32_band4x8", _simhash32_signatures(spark, sf_dir),
          "simhash", SIMHASH32_BANDS),
         ("simhash64_bandpairs_2of5", _simhash64_signatures(spark, sf_dir),
          "simhash", PAIRS62)],
        HAMMING_MAX)


def _simhash_width_oracle() -> str:
    base = (
        f"toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks "
        f"FROM documents),\n"
        f"th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th "
        f"FROM toks),\n"
        f"shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh "
        f"FROM th),\n"
        f"sim32 AS (SELECT doc_id, {H.simhash('sh', 'duck')} AS simhash "
        f"FROM shl),\n"
        f"sim64 AS (SELECT doc_id, "
        f"{H.simhash(H.rehash64('sh', 'duck'), 'duck', SIMHASH64_BITS)} "
        f"AS simhash FROM shl WHERE len(sh) > 0)")
    return _scheme_audit_sql(
        base,
        [("simhash32_band4x8", "sim32", "simhash", SIMHASH32_BANDS),
         ("simhash64_bandpairs_2of5", "sim64", "simhash", PAIRS62)],
        HAMMING_MAX, "scheme")


QUERIES["simhash_width_audit"] = simhash_width_audit
ORACLES["simhash_width_audit"] = _simhash_width_oracle()


# ---------------------------------------------------------------------------
# candidate-volume census: the birthday-cliff tripwire (bench-wired)
# ---------------------------------------------------------------------------
# Verify budget: candidate pairs per blocking unit (doc, or frame for
# video) a production deployment tolerates before the verify stage —
# not the band join — becomes the wall. Same spirit (and magnitude) as
# SALT_TARGET_BUCKET_DOCS: the designed corpora sit at ~0.04-3
# pairs/unit; a family drifting past 8 is entering the birthday regime
# measured in SCALING.md (32-bit simhash crossed it below 5k docs).
CANDIDATE_PAIRS_PER_UNIT_BUDGET = 8.0

# Band rows each blocking unit contributes, per family — the divisor
# that turns band-row counts into unit counts without a second scan.
FAMILY_BANDS_PER_UNIT = {
    "minhash_lsh": H.LSH_BANDS,
    "image_phash": PHASH_N_BANDS,
    "audio_afp": AFP_N_BANDS,
    "video_vfh_frame": VFP_N_BANDS,
    "simhash32_band4x8": 4,
    "simhash64_bandpairs_2of5": PHASH_C2_N_SUB * (PHASH_C2_N_SUB - 1) // 2,
}


def _census_family_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_banded_family_rows extended with the two simhash schemes — every
    banded join the registry can deploy, under its production blocking,
    as (family, band_idx, key) rows over the memoized signatures."""
    def rows(sigs: DataFrame, layout: Layout, family: str) -> DataFrame:
        return explode_bands(
            sigs, band_exprs("simhash", layout, "spark")
        ).selectExpr(f"'{family}' AS family",
                     "CAST(band_idx AS INT) AS band_idx",
                     "CAST(band_val AS STRING) AS key")
    return (_banded_family_rows(spark, sf_dir)
            .unionByName(rows(_simhash32_signatures(spark, sf_dir),
                              SIMHASH32_BANDS, "simhash32_band4x8"))
            .unionByName(rows(_simhash64_signatures(spark, sf_dir),
                              PAIRS62, "simhash64_bandpairs_2of5")))


# Per-family remedy when the tripwire fires, derived from each
# blocking's key-space structure: an UNBOUNDED or huge key space
# (minhash signature strings, the ~2^25-26 simhash64/56-bit pair keys)
# can only overflow via hot keys -> 'salt' (band_salting_policy /
# salted_band_candidates deploy it); a SATURATED small space needs a
# bigger one — the 56-bit single-band families re-block onto their
# measured-crossover band pairs ('reblock_band_pairs',
# band_blocking_policy + the *_bandpairs batch/incremental/stream
# forms), and 32-bit simhash widens the sketch itself ('widen_sketch'
# -> dedup_simhash64, since pairs over 32 bits would only reach ~2^13).
FAMILY_SATURATION_REMEDY = {
    "minhash_lsh": "salt",
    "image_phash": "reblock_band_pairs",
    "audio_afp": "reblock_band_pairs",
    "video_vfh_frame": "reblock_band_pairs",
    "simhash32_band4x8": "widen_sketch",
    "simhash64_bandpairs_2of5": "salt",
}


def candidate_volume_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per banded family under its PRODUCTION blocking: blocking units,
    band rows, buckets, hottest bucket, total candidate pairs (sum over
    buckets of k*(k-1)/2 — the exact verify-stage fan-out the band join
    ships), pairs per unit, the over_budget tripwire against
    CANDIDATE_PAIRS_PER_UNIT_BUDGET, and the ACTION — the family's
    structural remedy (FAMILY_SATURATION_REMEDY) when the wire trips,
    'none' otherwise. bench.py runs this each round and emits it as the
    candidate_volume block, so the birthday cliff is an automated alarm
    with its fix attached instead of a probe-era memory: a corpus
    drifting into a family's saturated blocking space shows up in the
    next BENCH_r*.json as (family, pairs_per_unit, action).

    Scale shape: one map-side-combinable aggregation over the memoized
    signature artifacts (the band_skew_audit discipline) — counts only,
    no pair materialization, no joins."""
    sizes = (_census_family_rows(spark, sf_dir)
             .groupBy("family", "band_idx", "key")
             .agg(F.count(F.lit(1)).cast("long").alias("k")))
    div = " ".join(
        f"WHEN '{fam}' THEN {n}" for fam, n in
        sorted(FAMILY_BANDS_PER_UNIT.items()))
    return (
        sizes.groupBy("family")
        .agg(F.sum("k").cast("long").alias("n_band_rows"),
             F.count(F.lit(1)).cast("long").alias("n_buckets"),
             F.max("k").cast("long").alias("max_bucket"),
             F.sum(F.expr("(k * (k - 1)) div 2")).cast("long")
             .alias("candidate_pairs"))
        .selectExpr(
            "family",
            f"n_band_rows div (CASE family {div} END) AS n_units",
            "n_band_rows", "n_buckets", "max_bucket", "candidate_pairs",
            "CAST(candidate_pairs AS DOUBLE)"
            " / CAST(nullif(n_band_rows div (CASE family"
            f" {div} END), 0) AS DOUBLE) AS pairs_per_unit",
            "CAST(candidate_pairs AS DOUBLE)"
            " / CAST(nullif(n_band_rows div (CASE family"
            f" {div} END), 0) AS DOUBLE)"
            f" > {CANDIDATE_PAIRS_PER_UNIT_BUDGET} AS over_budget",
            "CASE WHEN CAST(candidate_pairs AS DOUBLE)"
            " / CAST(nullif(n_band_rows div (CASE family"
            f" {div} END), 0) AS DOUBLE)"
            f" > {CANDIDATE_PAIRS_PER_UNIT_BUDGET}"
            f" THEN CASE family {_remedy_case()} END"
            " ELSE 'none' END AS action")
        .orderBy("family")
    )


def _remedy_case() -> str:
    return " ".join(
        f"WHEN '{fam}' THEN '{r}'"
        for fam, r in sorted(FAMILY_SATURATION_REMEDY.items()))


def _candidate_volume_oracle() -> str:
    sim32_rows = _band_keys_sql("c_sim32", "simhash", SIMHASH32_BANDS)
    sim64_rows = _band_keys_sql("c_sim64", "simhash", PAIRS62)
    # the base prefix's shl is filtered to non-empty (the minhash
    # semantics); the 32-bit simhash family deliberately bands ALL docs
    # (the documented coarse prefilter), so it gets its own unfiltered
    # shingle CTE; the 64-bit family follows the minhash convention
    # (see _simhash64_signatures on the all-ones empty-doc signature)
    extra_ctes = f"""c_shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
c_sim32 AS (SELECT doc_id, {H.simhash('sh', 'duck')} AS simhash FROM c_shl),
c_sim64 AS (SELECT doc_id,
  {H.simhash(H.rehash64('sh', 'duck'), 'duck', SIMHASH64_BITS)} AS simhash
  FROM c_shl WHERE len(sh) > 0),
"""
    extra_arms = f"""UNION ALL
  SELECT 'simhash32_band4x8' AS family, band_idx, key FROM ({sim32_rows})
  UNION ALL
  SELECT 'simhash64_bandpairs_2of5' AS family, band_idx, key
  FROM ({sim64_rows})"""
    div = " ".join(
        f"WHEN '{fam}' THEN {n}" for fam, n in
        sorted(FAMILY_BANDS_PER_UNIT.items()))
    return _banded_family_sizes_sql(extra_ctes, extra_arms) + f"""
SELECT family,
       n_band_rows // (CASE family {div} END) AS n_units,
       n_band_rows, n_buckets, max_bucket, candidate_pairs,
       CAST(candidate_pairs AS DOUBLE)
         / CAST(NULLIF(n_band_rows // (CASE family {div} END), 0)
                AS DOUBLE) AS pairs_per_unit,
       CAST(candidate_pairs AS DOUBLE)
         / CAST(NULLIF(n_band_rows // (CASE family {div} END), 0)
                AS DOUBLE)
         > {CANDIDATE_PAIRS_PER_UNIT_BUDGET} AS over_budget,
       CASE WHEN CAST(candidate_pairs AS DOUBLE)
         / CAST(NULLIF(n_band_rows // (CASE family {div} END), 0)
                AS DOUBLE)
         > {CANDIDATE_PAIRS_PER_UNIT_BUDGET}
            THEN CASE family {_remedy_case()} END
            ELSE 'none' END AS action
FROM (
  SELECT family,
         CAST(SUM(k) AS BIGINT) AS n_band_rows,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(MAX(k) AS BIGINT) AS max_bucket,
         CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS candidate_pairs
  FROM sizes GROUP BY family) t
ORDER BY family
"""


QUERIES["candidate_volume_census"] = candidate_volume_census
ORACLES["candidate_volume_census"] = _candidate_volume_oracle()


# ---------------------------------------------------------------------------
# blocking-scheme actuator: phash_blocking_scheme_audit's decision, applied
# ---------------------------------------------------------------------------
def blocking_exprs_for(action: str, sig_col: str) -> "list[str] | None":
    """Map a band_blocking_policy action to the ``band_exprs`` config of
    streaming.jobs._banded_signature_dedupe_stream: ``None`` keeps the
    default strided single bands; 'band_pairs' swaps in the 2-of-5
    composite pair keys. This is the whole actuator seam — the policy
    row decides, this function translates, the stream topology is
    unchanged (both schemes are exact for hamming <= 3)."""
    if action == "band_pairs":
        return band_exprs(sig_col, PAIRS56, "spark")
    if action == "single_bands":
        return None
    raise ValueError(f"unknown blocking action: {action!r}")


# Census action -> the CONCRETE deployment artifacts (VERDICT r10 gap 4:
# "the action column stops at naming the remedy"). Keys are registry
# query names unless suffixed: stream entries name functions in
# streaming.jobs; actuator entries are (function, call-args string) —
# rendered as ``function(args)`` in the bench warning — the deployment
# calls to reconfigure a topology. saturation_remedy_artifacts() is the
# tested accessor — the last hop of the audit -> decision -> deployment
# loop, so the bench warning can cite the exact thing to run instead of
# prose.
FAMILY_REMEDY_DISPATCH = {
    "minhash_lsh": {
        # unbounded key space: overflow only via hot keys -> salt
        "policy": "band_salting_policy",
        "batch": "dedup_minhash_lsh_salted",
        "incremental": "dedup_incremental_minhash",
        "stream": "stream_minhash_dedupe",
        "actuator": ("salted_band_candidates", "cap=SALT_BUCKET_CAP"),
    },
    "image_phash": {
        # saturated 2^14 single-band space -> re-block on 2-of-5 pairs
        "policy": "band_blocking_policy",
        "batch": "dedup_image_phash_bandpairs",
        "incremental": "dedup_image_phash_incremental_bandpairs",
        "stream": "stream_image_phash_policy_dedupe",
        "actuator": ("blocking_exprs_for", "'band_pairs', 'phash'"),
    },
    "audio_afp": {
        "policy": "band_blocking_policy",
        "batch": "dedup_audio_fingerprint_bandpairs",
        "incremental": "dedup_audio_fingerprint_incremental_bandpairs",
        "stream": "stream_audio_fingerprint_dedupe",
        "actuator": ("blocking_exprs_for", "'band_pairs', 'afp'"),
    },
    "video_vfh_frame": {
        "policy": "band_blocking_policy",
        "batch": "dedup_video_fingerprint_bandpairs",
        "incremental": "dedup_video_fingerprint_incremental_bandpairs",
        "stream": "stream_video_fingerprint_dedupe",
        "actuator": ("blocking_exprs_for", "'band_pairs', 'vfh'"),
    },
    "simhash32_band4x8": {
        # saturated 2^8 bands: no banding fix exists at 32 bits
        # (pairs only reach ~2^13) -> widen the sketch itself
        "policy": "simhash_width_audit",
        "batch": "dedup_simhash64",
        "incremental": "dedup_simhash64_incremental",
        "stream": "stream_simhash64_dedupe",
        "actuator": ("simhash64_frame", "docs"),
    },
    "simhash64_bandpairs_2of5": {
        # ~2^25-26 pair keys: overflow only via hot keys -> salt
        "policy": "band_salting_policy",
        "batch": "dedup_simhash64",
        "incremental": "dedup_simhash64_incremental",
        "stream": "stream_simhash64_dedupe",
        "actuator": ("salted_band_candidates", "cap=SALT_BUCKET_CAP"),
    },
}


def saturation_remedy_artifacts(family: str) -> dict:
    """The deployment recipe for a census-flagged family: its remedy
    action (FAMILY_SATURATION_REMEDY) joined with the concrete
    artifacts that implement it — the policy/audit query that prices
    the decision, the batch + incremental registry queries to deploy,
    the streaming twin, and the actuator seam to reconfigure. Every
    name is pinned resolvable by pytest (test_bench_gates), so the
    bench warning's citation can never drift from the registry."""
    if family not in FAMILY_SATURATION_REMEDY:
        raise ValueError(f"unknown banded family: {family!r}")
    return {"family": family,
            "action": FAMILY_SATURATION_REMEDY[family],
            **FAMILY_REMEDY_DISPATCH[family]}


def band_blocking_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash_blocking_scheme_audit promoted to an ACTUATOR (the
    band_salting_policy pattern): per 56-bit family, the measured
    candidate volume of both blocking schemes — strided single bands
    (4 rows/unit, 2^14-value keys) vs 2-of-5 band pairs (10 rows/unit,
    ~2^22-23-value keys) — from bucket histograms only, and the
    DECISION: action = 'band_pairs' once the single-band scheme's
    verify fan-out exceeds CANDIDATE_PAIRS_PER_UNIT_BUDGET per unit,
    else 'single_bands'. The budget is the verify-cost knob: SCALING.md
    round 8 measured that cheapening the verify stage MOVES the
    crossover (single bands beat pairs at 500k docs once video verify
    collapsed to array folds), so the threshold is a deployment
    constant, not a universal truth — this query prices the corpus,
    the constant prices the verify.

    Consumed via blocking_exprs_for -> the band_exprs seam on
    _banded_signature_dedupe_stream (pytest-pinned: the policy-driven
    stream twin follows the action and still matches the batch pair
    set, since both schemes are exact for hamming <= 3).

    Scale shape: one map-side-combinable bucket histogram per
    (family, scheme) over the memoized signature artifacts — counts
    only, no pair materialization, no joins."""
    fams = [
        ("audio_afp",
         _afp_signatures(spark, sf_dir).select(
             F.lit(0).alias("align"), F.col("afp").alias("sig"))),
        ("image_phash",
         _phash_signatures(spark, sf_dir).select(
             F.lit(0).alias("align"), F.col("phash").alias("sig"))),
        ("video_vfh_frame",
         _vfp_signatures(spark, sf_dir).select(
             F.col("frame_idx").alias("align"), F.col("vfh").alias("sig"))),
    ]
    # r15 note: a rewrite folding the six per-(family, scheme) branches
    # into one tagged union + single grouped aggregation chain (12 -> 2
    # exchanges, one scan per artifact) measured ~1.8x SLOWER at sf0.1
    # (1.9 -> 3.4-4.2 s, noop sink, fresh-session medians) — the six
    # small independent branches overlap as concurrent stages, while
    # the fused shuffle serializes the whole 420k-row band stream
    # through one exchange. Measurement keeps the branch form.
    out = None
    for family, sigs in fams:
        for scheme, layout in (("single", PROD_BANDS56), ("pairs", PAIRS56)):
            bands = explode_bands(sigs, band_exprs("sig", layout, "spark"),
                                  "align")
            row = (bands.groupBy("align", "band_idx", "band_val")
                   .agg(F.count(F.lit(1)).alias("k"))
                   .agg(F.sum("k").cast("long").alias("n_band_rows"),
                        F.max("k").cast("long").alias("max_bucket"),
                        F.sum(F.expr("(k * (k - 1)) div 2")).cast("long")
                        .alias("candidate_pairs"))
                   .selectExpr(f"'{family}' AS family",
                               f"'{scheme}' AS scheme",
                               "n_band_rows", "max_bucket",
                               "candidate_pairs"))
            out = row if out is None else out.unionByName(row)
    b = CANDIDATE_PAIRS_PER_UNIT_BUDGET
    return (
        out.groupBy("family")
        .agg(*[F.max(F.when(F.col("scheme") == s, F.col(c)))
               .cast("long").alias(f"{s}_{c}")
               for s in ("single", "pairs")
               for c in ("n_band_rows", "max_bucket", "candidate_pairs")])
        .selectExpr(
            "family",
            f"single_n_band_rows div {PHASH_N_BANDS} AS n_units",
            "single_candidate_pairs", "single_max_bucket",
            "pairs_candidate_pairs", "pairs_max_bucket",
            f"CAST(single_candidate_pairs AS DOUBLE)"
            f" / CAST(nullif(single_n_band_rows div {PHASH_N_BANDS}, 0)"
            " AS DOUBLE) AS single_pairs_per_unit",
            f"CAST(pairs_candidate_pairs AS DOUBLE)"
            f" / CAST(nullif(single_n_band_rows div {PHASH_N_BANDS}, 0)"
            " AS DOUBLE) AS pairs_pairs_per_unit",
            f"CAST({b} AS DOUBLE) AS budget_pairs_per_unit",
            f"CASE WHEN CAST(single_candidate_pairs AS DOUBLE)"
            f" / CAST(nullif(single_n_band_rows div {PHASH_N_BANDS}, 0)"
            f" AS DOUBLE) > {b} THEN 'band_pairs'"
            " ELSE 'single_bands' END AS action")
        .orderBy("family")
    )


def _band_blocking_policy_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        AFP_ORACLE_CTES,
        PHASH_ORACLE_CTES,
        VFP_ORACLE_CTES,
    )
    ctes = [PHASH_ORACLE_CTES.strip(), AFP_ORACLE_CTES.strip(),
            VFP_ORACLE_CTES.strip()]
    ctes.append("p_image_phash AS (SELECT 0 AS align, phash AS sig "
                "FROM ph)")
    ctes.append("p_audio_afp AS (SELECT 0 AS align, afp AS sig "
                "FROM afpt)")
    ctes.append("p_video_vfh_frame AS (SELECT frame_idx AS align, "
                "vfh AS sig FROM vft)")
    arm_rows = []
    for family in ("image_phash", "audio_afp", "video_vfh_frame"):
        for scheme, layout in (("single", PROD_BANDS56), ("pairs", PAIRS56)):
            tag = f"{family}_{scheme}"
            band_rows = band_rows_sql(f"p_{family}", "sig", layout, ["align"])
            ctes.append(f"bands_{tag} AS ({band_rows})")
            ctes.append(
                f"agg_{tag} AS (SELECT '{family}' AS family, "
                f"'{scheme}' AS scheme, "
                f"CAST(SUM(k) AS BIGINT) AS n_band_rows, "
                f"CAST(MAX(k) AS BIGINT) AS max_bucket, "
                f"CAST(SUM((k * (k - 1)) // 2) AS BIGINT)"
                f" AS candidate_pairs FROM "
                f"(SELECT align, band_idx, band_val, COUNT(*) AS k "
                f"FROM bands_{tag} GROUP BY align, band_idx, band_val) h)")
            arm_rows.append(f"SELECT * FROM agg_{tag}")
    b = CANDIDATE_PAIRS_PER_UNIT_BUDGET
    ctes.append("allrows AS (" + "\nUNION ALL\n".join(arm_rows) + ")")
    pivots = ",\n       ".join(
        f"CAST(MAX(CASE WHEN scheme = '{s}' THEN {c} END) AS BIGINT)"
        f" AS {s}_{c}"
        for s in ("single", "pairs")
        for c in ("n_band_rows", "max_bucket", "candidate_pairs"))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT family,
       single_n_band_rows // {PHASH_N_BANDS} AS n_units,
       single_candidate_pairs, single_max_bucket,
       pairs_candidate_pairs, pairs_max_bucket,
       CAST(single_candidate_pairs AS DOUBLE)
         / CAST(NULLIF(single_n_band_rows // {PHASH_N_BANDS}, 0)
                AS DOUBLE) AS single_pairs_per_unit,
       CAST(pairs_candidate_pairs AS DOUBLE)
         / CAST(NULLIF(single_n_band_rows // {PHASH_N_BANDS}, 0)
                AS DOUBLE) AS pairs_pairs_per_unit,
       CAST({b} AS DOUBLE) AS budget_pairs_per_unit,
       CASE WHEN CAST(single_candidate_pairs AS DOUBLE)
         / CAST(NULLIF(single_n_band_rows // {PHASH_N_BANDS}, 0)
                AS DOUBLE) > {b} THEN 'band_pairs'
            ELSE 'single_bands' END AS action
FROM (SELECT family,
       {pivots}
      FROM allrows GROUP BY family) t
ORDER BY family
""")


QUERIES["band_blocking_policy"] = band_blocking_policy
ORACLES["band_blocking_policy"] = _band_blocking_policy_oracle()


# ---------------------------------------------------------------------------
# incremental embedding dedup (delta-ingest SemDeDup/cosine form)
# ---------------------------------------------------------------------------
def dedup_embedding_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Delta-ingest embedding dedup — the missing incremental form on
    the semantic side (lexical dedup has had batch/incr/stream since
    r5; embedding dedup was batch-only, so every delta-ingest re-paid
    the full corpus). An incoming vector batch (vec_id %
    {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}) is checked against the
    existing corpus through the SAME coarse blocking the batch operator
    uses (label = IVF cell), as ONE predicated salted self-join — the
    dedup_incremental_minhash shape: the incoming side is filtered
    BEFORE the exchange, and (not new2) OR (v1 < v2) keeps exactly
    incoming x existing plus the incoming batch's own ordered
    self-pairs (same-batch near-dups are still reported, matching the
    streaming twins' intra-batch union). existing x existing never
    materializes — it was deduplicated when ITS batches arrived.

    At 100 TB: per-ingest cost is O(batch x matched cells), not
    O(corpus^2); the existing side's normed vectors are a persisted
    artifact in a deployment (the table-store seam), probed per cell.
    The salt keeps a hot cell's incoming x existing pair space spread
    over COSINE_SALT tasks, same as the batch join.

    Output: (new_id, dup_of, cosine) — incoming vectors that
    near-duplicate an existing (or earlier-in-batch) vector."""
    n = _normed_embeddings(spark, sf_dir).withColumn(
        "is_new",
        (F.col("vec_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    a = (n.filter("is_new")
         .withColumn("salt", F.pmod(F.hash("vec_id"), F.lit(COSINE_SALT)))
         .alias("a"))
    b = (fan_out(n, "vec_id")
         .withColumn("salt", F.explode(
             F.sequence(F.lit(0), F.lit(COSINE_SALT - 1))))
         .alias("b"))
    return (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.label") == F.col("b.label"))
              & (F.col("a.salt") == F.col("b.salt"))
              & (F.col("a.vec_id") != F.col("b.vec_id"))
              & ((~F.col("b.is_new"))
                 | (F.col("a.vec_id") < F.col("b.vec_id"))))
        .select(
            F.col("a.vec_id").alias("new_id"),
            F.col("b.vec_id").alias("dup_of"),
            (F.expr(_DOT) / (F.col("a.nrm") * F.col("b.nrm")))
            .alias("cosine"))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("new_id", "dup_of")
    )


DEDUP_EMBEDDING_INCREMENTAL_SQL = f"""
WITH {H.normed_ctes()}
SELECT a.vec_id AS new_id, b.vec_id AS dup_of,
       {H.cosine_sql('a', 'b')} AS cosine
FROM n a JOIN n b ON a.label = b.label
 AND a.vec_id != b.vec_id
 AND a.vec_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}
 AND (b.vec_id % {INCREMENTAL_MOD} < {INCREMENTAL_NEW}
      OR a.vec_id < b.vec_id)
WHERE {H.cosine_sql('a', 'b')} >= {COSINE_THRESHOLD}
ORDER BY new_id, dup_of
"""


QUERIES["dedup_embedding_incremental"] = dedup_embedding_incremental
ORACLES["dedup_embedding_incremental"] = DEDUP_EMBEDDING_INCREMENTAL_SQL


def simhash64_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash) at the widened width — the
    sign_frame the streaming twin plugs into the shared banded-signature
    topology; bit-identical to _simhash64_signatures' batch expression
    (same shingled_docs chain, same rehash64 widening, same
    non_empty exclusion of zero-token docs)."""
    return shingled_docs(docs, non_empty=True).selectExpr(
        "doc_id",
        f"{H.simhash(H.rehash64('sh', 'spark'), 'spark', SIMHASH64_BITS)}"
        " AS simhash")


def dedup_simhash64_incremental(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Delta-ingest form of dedup_simhash64 — completing the widened
    family's batch/incremental/streaming parity (every other dedup
    family has had all three since r8): ONE predicated band self-join
    over the 2-of-5 pair keys (the dedup_incremental_minhash shape —
    incoming filtered before the exchange, (not new2) OR (d1 < d2)
    keeps incoming x existing plus ordered intra-batch pairs), then the
    exact hamming verify. The oracle blocks on contiguous 4x16 bands
    with the same ingest predicate — both schemes exact for
    hamming <= 3, so the hash gate again proves scheme-independence.

    Output: (new_id, dup_of, hamming) — incoming docs near-duplicating
    an existing (or earlier-ordered same-batch) doc."""
    sim = _simhash64_signatures(spark, sf_dir).withColumn(
        "is_new", (F.col("doc_id") % INCREMENTAL_MOD) >= INCREMENTAL_NEW)
    return banded_pairs(
        explode_bands(sim, band_exprs("simhash", PAIRS62, "spark"),
                      "doc_id", "simhash", "is_new"),
        "simhash", is_new=F.col("is_new"), hamming_max=HAMMING_MAX,
        keep=[F.col("d1").alias("new_id"), F.col("d2").alias("dup_of"),
              "hamming"]
    ).orderBy("new_id", "dup_of")


def _simhash64_incremental_oracle() -> str:
    return _sig_pairs_oracle(
        _SIM64_CTES, "sim", "simhash", HAMMING_MAX,
        is_new=f"{{}}.doc_id % {INCREMENTAL_MOD} >= {INCREMENTAL_NEW}",
        layout=SIMHASH64_ORACLE_BANDS)


QUERIES["dedup_simhash64_incremental"] = dedup_simhash64_incremental
ORACLES["dedup_simhash64_incremental"] = _simhash64_incremental_oracle()


def dedup_image_phash_incremental_bandpairs(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """dedup_image_phash_incremental re-blocked on the 2-of-5 band
    pairs — the past-crossover delta-ingest path: SCALING.md round 10
    measured the single-band/band-pair flip at ~1M docs for this
    family, and a corpus past it saturates the INCREMENTAL join's
    single-band buckets exactly like the batch one (same keys, same
    birthday regime). Same predicated self-join (incoming filtered
    before the exchange, (not new2) OR (d1 < d2)); the oracle is the
    UNCHANGED single-band incremental SQL, so the hash gate proves the
    re-blocking loses nothing. This is what band_blocking_policy's
    action='band_pairs' deploys for the delta-ingest job (the stream
    twin already follows it via the band_exprs seam)."""
    return _sig_pairs(_phash_signatures(spark, sf_dir), "phash", PAIRS56,
                      PHASH_HAMMING_MAX,
                      is_new=(F.col("doc_id") % 4) == PHASH_INCREMENTAL_NEW)


QUERIES["dedup_image_phash_incremental_bandpairs"] = \
    dedup_image_phash_incremental_bandpairs
ORACLES["dedup_image_phash_incremental_bandpairs"] = \
    _image_phash_incremental_oracle()


def dedup_audio_fingerprint_incremental_bandpairs(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_audio_fingerprint_incremental under the 2-of-5 band-pair
    blocking — see dedup_image_phash_incremental_bandpairs; the audio
    crossover was measured at the same ~1M docs (SCALING.md round 10:
    dead heat at 1M, 1.9x at 2M). Oracle = the unchanged single-band
    incremental SQL."""
    return _sig_pairs(_afp_signatures(spark, sf_dir), "afp", PAIRS56,
                      AFP_HAMMING_MAX,
                      is_new=(F.col("doc_id") % 4) == AFP_INCREMENTAL_NEW)


QUERIES["dedup_audio_fingerprint_incremental_bandpairs"] = \
    dedup_audio_fingerprint_incremental_bandpairs
ORACLES["dedup_audio_fingerprint_incremental_bandpairs"] = \
    _audio_fingerprint_incremental_oracle()


def dedup_video_fingerprint_incremental_bandpairs(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_video_fingerprint_incremental re-blocked on the per-frame
    2-of-5 band pairs — completing the band-pair option across all
    three perceptual families' delta-ingest forms (image and audio have
    theirs). Video is the family the 100x probe measured DEEPEST in the
    birthday regime (2M frame rows over 16k single-band values,
    e~1.55), so its incremental join is the first to need the
    re-blocking in production. Per-frame exactness is unchanged
    (hamming <= 3 leaves >= 2 of 5 sub-bands intact), the M-of-K
    theorem lifts identically, and the oracle IS the single-band
    incremental SQL — the hash gate proves the re-blocking loses
    nothing."""
    return _vfp_incremental(_vfp_signatures(spark, sf_dir), PAIRS56)


QUERIES["dedup_video_fingerprint_incremental_bandpairs"] = \
    dedup_video_fingerprint_incremental_bandpairs
ORACLES["dedup_video_fingerprint_incremental_bandpairs"] = \
    _video_fingerprint_incremental_oracle()


# ---------------------------------------------------------------------------
# 32 -> 62-bit sketch rollover report
# ---------------------------------------------------------------------------
def simhash_rollover_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration ledger a deployment consults before executing the
    rollover simhash_width_audit recommends: given a corpus whose
    persisted prefilter state is 32-bit signatures, (a) how many of the
    pairs the narrow sketch ASSERTED (banded candidates verified at
    hamming <= {HAMMING_MAX} over 32 bits) survive re-verification at
    62 bits — the rest are the false-positive cleanup the rollover
    buys, the answer-quality number SCALING.md's 32-bit cliff
    measurement showed dominates the narrow sketch's output — and
    (b) the re-sign bill: every non-empty doc's signature must be
    recomputed (62-bit sketches are not derivable from 32-bit ones —
    different per-shingle hash streams), which is one corpus scan.

    One row: n_docs_resigned, n_pairs_asserted_32, n_confirmed_62,
    n_rejected_62 (the cleanup), rejection_rate. A pair whose doc lost
    its 62-bit signature (zero-token docs, excluded by the minhash
    convention) counts as rejected — empty docs are exact-dedup's job.

    Scale shape: both signature tables are the memoized 8-byte/doc
    artifacts; the only join fan-out is the narrow scheme's own
    candidate volume — which is the quantity under audit, and the
    reason the report is worth running on a sample before a 100 TB
    rollover."""
    sim32 = _simhash32_signatures(spark, sf_dir)
    sim64 = _simhash64_signatures(spark, sf_dir)
    asserted = banded_pairs(
        explode_bands(sim32, band_exprs("simhash", SIMHASH32_BANDS, "spark"),
                      "doc_id", "simhash"),
        "simhash", hamming_max=HAMMING_MAX, keep=["d1", "d2"])
    w1 = sim64.select(F.col("doc_id").alias("d1"),
                      F.col("simhash").alias("w1"))
    w2 = sim64.select(F.col("doc_id").alias("d2"),
                      F.col("simhash").alias("w2"))
    judged = (
        asserted.join(w1, "d1", "left").join(w2, "d2", "left")
        .withColumn(
            "confirmed",
            F.coalesce(
                F.expr(H.hamming("w1", "w2", "spark"))
                <= HAMMING_MAX, F.lit(False))))
    resign = sim64.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_resigned"))
    return (
        judged.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs_asserted_32"),
            F.sum(F.when(F.col("confirmed"), 1).otherwise(0))
            .cast("long").alias("n_confirmed_62"))
        .crossJoin(F.broadcast(resign))
        .selectExpr(
            "n_docs_resigned", "n_pairs_asserted_32", "n_confirmed_62",
            "n_pairs_asserted_32 - n_confirmed_62 AS n_rejected_62",
            "CAST(n_pairs_asserted_32 - n_confirmed_62 AS DOUBLE)"
            " / CAST(nullif(n_pairs_asserted_32, 0) AS DOUBLE)"
            " AS rejection_rate")
    )


def _rollover_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {H.tokens('text', 'duck')} AS toks FROM documents),
th AS (SELECT doc_id, {H.token_hashes('toks', 'duck')} AS th FROM toks),
shl AS (SELECT doc_id, {H.shingle_hashes('th', 'duck')} AS sh FROM th),
sim32 AS (SELECT doc_id, {H.simhash('sh', 'duck')} AS simhash FROM shl),
sim64 AS (SELECT doc_id,
          {H.simhash(H.rehash64('sh', 'duck'), 'duck', SIMHASH64_BITS)}
          AS simhash FROM shl WHERE len(sh) > 0),
{banded_pairs_sql('sim32', 'simhash', SIMHASH32_BANDS)},
asserted AS (
  SELECT DISTINCT d1, d2 FROM cand
  WHERE {H.hamming('s1', 's2', 'duck')} <= {HAMMING_MAX}),
judged AS (
  SELECT p.d1, p.d2,
         COALESCE({H.hamming('w1.simhash', 'w2.simhash', 'duck')}
                  <= {HAMMING_MAX}, FALSE) AS confirmed
  FROM asserted p
  LEFT JOIN sim64 w1 ON w1.doc_id = p.d1
  LEFT JOIN sim64 w2 ON w2.doc_id = p.d2),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_asserted_32,
         CAST(SUM(CASE WHEN confirmed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_confirmed_62
  FROM judged),
resign AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_resigned FROM sim64)
SELECT n_docs_resigned, n_pairs_asserted_32, n_confirmed_62,
       n_pairs_asserted_32 - n_confirmed_62 AS n_rejected_62,
       CAST(n_pairs_asserted_32 - n_confirmed_62 AS DOUBLE)
         / CAST(NULLIF(n_pairs_asserted_32, 0) AS DOUBLE)
         AS rejection_rate
FROM agg CROSS JOIN resign
"""


QUERIES["simhash_rollover_report"] = simhash_rollover_report
ORACLES["simhash_rollover_report"] = _rollover_oracle()


# ---------------------------------------------------------------------------
# cross-source semantic duplicate matrix
# ---------------------------------------------------------------------------
def cross_source_semantic_matrix(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """cross_source_dup_matrix on the SEMANTIC side: embedding-cosine
    near-dup pair counts aggregated by (source, source). The lexical
    matrix catches mirror crawls (same bytes); this one catches the
    provenance pattern lexical counting misses by construction —
    machine-translated, re-templated, or paraphrased mirrors whose
    embeddings stay close while their shingles diverge. A curator reads
    the two matrices together: a cell heavy HERE but light in the
    lexical matrix is a semantic-mirror source, the de-weighting case
    embedding dedup exists for.

    Scale shape: the pair side is the memoized candidates-only cosine
    pair table (cosine_pair_table — built once per session, shared with
    the method-agreement audit); source attachment joins pair-side
    against the slim (doc_id, source) projection; the rollup key space
    is sources^2 — domain-bounded."""
    pairs = cosine_pair_table(spark, sf_dir).select("v1", "v2")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = docs.select(F.col("doc_id").alias("v1"),
                     F.col("source").alias("src1"))
    s2 = docs.select(F.col("doc_id").alias("v2"),
                     F.col("source").alias("src2"))
    return (
        pairs.join(s1, "v1").join(s2, "v2")
        .select(F.least("src1", "src2").alias("source_a"),
                F.greatest("src1", "src2").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def _cross_source_semantic_oracle() -> str:
    return f"""
WITH pairs AS (
  SELECT v1, v2 FROM ({DEDUP_COSINE_SQL}) )
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
FROM pairs
JOIN documents a ON a.doc_id = pairs.v1
JOIN documents b ON b.doc_id = pairs.v2
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


QUERIES["cross_source_semantic_matrix"] = cross_source_semantic_matrix
ORACLES["cross_source_semantic_matrix"] = _cross_source_semantic_oracle()
