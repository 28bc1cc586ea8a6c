"""Similarity search over embedding columns: brute-force cosine top-k as
the exact baseline, and an IVF-style blocked variant as the scale path.

Numeric determinism: dot products and norms are sequential left-folds over
double-cast elements (F.aggregate / list_reduce) — identical operation
order in Spark and DuckDB gives bit-identical doubles, so ranks and scores
hash-match without rounding.

Scale design:
- Queries are a tiny set -> broadcast to every executor; the scan side
  streams once through the full embedding table (brute force) or only the
  matching IVF cells (blocked). No shuffle except the final per-query top-k
  (TakeOrderedAndProject after a window filter).
- At 100 TB the IVF cell id comes from a trained coarse quantizer; here the
  driver data's `label` column plays that role (same plan shape: equi-join
  on cell id prunes the candidate set before any distance math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
from qucosa_fcrepo_reportingdb_spark.memo import (
    cut_lineage,
    session_memo,
)
from qucosa_fcrepo_reportingdb_spark.plans.common import fan_out, t

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors

_DOT = H.dot("q.v", "c.v", "spark")

_NORMED = (
    "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), "
    "(acc, x) -> acc + x))"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(t(spark, sf_dir, "embeddings"), "vec_id")
    return emb.selectExpr(
        "vec_id", "label", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    ).selectExpr("vec_id", "label", "v", f"{_NORMED} AS nrm") \
        .filter("nrm > 0")  # zero-norm vectors have no cosine direction


def _topk(joined: DataFrame, score: str = "cosine",
          ascending: bool = False) -> DataFrame:
    """Per-query top-K with deterministic neighbor tie-break — one
    definition of the rank/filter/select block shared by the cosine
    (descending) and ADC-distance (ascending) variants, so a tie-break
    change can't drift between them."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", score)
        .orderBy("query_id", "rank")
    )


def _bruteforce_topk_from(vecs: DataFrame) -> DataFrame:
    """Exact top-k join body over any (vec_id, v, nrm) frame — shared by
    the full-corpus query and the sampled recall audit."""
    q = vecs.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = vecs.alias("c")
    joined = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: broadcast the query set, stream the corpus once."""
    return _bruteforce_topk_from(_vectors(spark, sf_dir))


def _oracle(cell_filter: str) -> str:
    return f"""
WITH {H.normed_ctes()},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {H.cosine_sql('q', 'c')} AS cosine
  FROM n q JOIN n c ON q.vec_id != c.vec_id {cell_filter}
  WHERE q.vec_id < {N_QUERIES}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


ANN_BRUTEFORCE_SQL = _oracle("")


def _ivf_topk_from(vecs: DataFrame) -> DataFrame:
    """IVF join body over any (vec_id, label, v, nrm) frame — shared by
    the full-corpus query and the sampled recall audit."""
    q = vecs.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = vecs.alias("c")
    joined = (
        F.broadcast(q)
        .join(c, (F.col("q.label") == F.col("c.label"))
              & (F.col("q.vec_id") != F.col("c.vec_id")))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-blocked top-k: only candidates in the query's coarse cell
    (label) are scored — the candidate set shrinks by ~n_cells, the plan is
    an equi-join on the cell id instead of a cross join."""
    return _ivf_topk_from(_vectors(spark, sf_dir))


ANN_IVF_SQL = _oracle("AND q.label = c.label")


# --- random-hyperplane LSH ANN -----------------------------------------------
# Deterministic pseudo-random hyperplanes: integer weight
# w(j, d) = ((j*40503 + d*1299721 + 7) mod P) - (P-1)/2, exactly
# representable in double, identical in both engines; the sign of
# sum_d v[d] * w(j, d) (sequential fold, ascending d) is bit j of the
# bucket code. Unlike the IVF cell id, the code needs no trained
# quantizer — the standard cold-start ANN bucketing.
LSH_NBITS = 8
_P = 2_147_483_647
_HALF = (_P - 1) // 2


def _lsh_dot(j: int, dialect: str) -> str:
    w = f"(({j} * 40503 + d * 1299721 + 7) % {_P} - {_HALF})"
    if dialect == "spark":
        return (f"aggregate(sequence(1, size(v)), CAST(0 AS DOUBLE), "
                f"(acc, d) -> acc + element_at(v, d) "
                f"* CAST({w} AS DOUBLE))")
    return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len(v) + 1), "
            f"d -> v[d] * CAST({w} AS DOUBLE))), (acc, x) -> acc + x)")


def _lsh_code(dialect: str) -> str:
    terms = [
        f"(CASE WHEN {_lsh_dot(j, dialect)} >= 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(LSH_NBITS)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_bucket_topk(coded: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, code) -> bucket-joined exact-cosine top-k: the
    LSH join body shared by the inline-coded and precoded variants (they
    share an oracle, so they must share this by construction)."""
    q = coded.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = coded.alias("c")
    joined = (
        F.broadcast(q)
        .join(c, (F.col("q.code") == F.col("c.code"))
              & (F.col("q.vec_id") != F.col("c.vec_id")))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-k: candidates share the query's 8-bit
    random-hyperplane code. Scale shape matches IVF — broadcast the tiny
    coded query set, equi-join on the code, exact cosine only within the
    bucket. Recall is tunable via LSH_NBITS/multi-probe; the oracle
    replicates the bucketing, so correctness = faithful algorithm, not
    exact-knn equality.

    The corpus coding is the MATERIALIZED column (_coded_corpus, once
    per session and dataset), not a per-run expression: SCALING.md's
    100x probe measured the inline form at 5.6x growth — 8 hyperplane
    dots per CORPUS vector per run, slower than brute force at small
    query counts — vs 0.71 s steady precoded. Since round 6 the named
    default IS the deployment path; the code column is the artifact a
    production run persists next to the vectors."""
    return _lsh_bucket_topk(_coded_corpus(spark, sf_dir))


ANN_LSH_SQL = f"""
WITH {H.normed_ctes()},
coded AS (
  SELECT vec_id, v, nrm, {_lsh_code('duck')} AS code FROM n),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {H.cosine_sql('q', 'c')} AS cosine
  FROM coded q JOIN coded c
    ON q.code = c.code AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _coded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once LSH-coded corpus (vec_id, v, nrm, code): the
    deployment shape the 100x probe in SCALING.md motivates — inline
    coding costs LSH_NBITS hyperplane dots per corpus vector per RUN,
    which exceeds brute force's query-dot cost at small query counts;
    coding once per (session, dataset) and storing the column makes the
    bucket join pay from the first query."""
    def build() -> DataFrame:
        # label rides along (costless in the stored artifact) so
        # label-constrained consumers (hard_negative_mining) share the
        # same materialization instead of re-coding with one more column
        return (_vectors(spark, sf_dir)
                .selectExpr("vec_id", "label", "v", "nrm",
                            f"{_lsh_code('spark')} AS code")
                .transform(cut_lineage))
    return session_memo(spark, ("lsh_coded", sf_dir), build)


def ann_lsh_precoded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias of ann_lsh_topk, kept for registry continuity: since round
    6 the named default consumes the materialized code column itself, so
    "precoded" is no longer a variant but the only LSH path (identical
    semantics, same oracle, same _lsh_bucket_topk join body)."""
    return ann_lsh_topk(spark, sf_dir)


def _probe_codes(dialect: str) -> str:
    """The query's own code plus its 8 Hamming-1 neighbors — all 9
    distinct, so a corpus vector (one code) matches at most one probe and
    the candidate pairs need no dedup."""
    if dialect == "spark":
        flips = ", ".join(f"code ^ {1 << j}" for j in range(LSH_NBITS))
        return f"array(code, {flips})"
    flips = ", ".join(f"xor(code, {1 << j})" for j in range(LSH_NBITS))
    return f"list_value(code, {flips})"


def _multiprobe_topk_from(coded: DataFrame) -> DataFrame:
    """Multi-probe join body over any coded frame — shared by the
    full-corpus query and the sampled recall audit."""
    q = (
        coded.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id", "v", "nrm",
                    f"explode({_probe_codes('spark')}) AS probe")
        .alias("q")
    )
    c = coded.alias("c")
    joined = (
        F.broadcast(q)
        .join(c, (F.col("q.probe") == F.col("c.code"))
              & (F.col("q.vec_id") != F.col("c.vec_id")))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query also probes the 8 buckets whose
    code differs in one bit — the standard recall knob that avoids
    rebuilding the index with more tables. Candidate volume grows 9x on
    the QUERY side only (the tiny broadcast); the corpus side is the
    same materialized code column as ann_lsh_topk (coded once per
    session and dataset, never per run — see the 100x numbers there)."""
    return _multiprobe_topk_from(_coded_corpus(spark, sf_dir))


ANN_LSH_MULTIPROBE_SQL = f"""
WITH {H.normed_ctes()},
coded AS (
  SELECT vec_id, v, nrm, {_lsh_code('duck')} AS code FROM n),
probes AS (
  SELECT vec_id, v, nrm, unnest({_probe_codes('duck')}) AS probe
  FROM coded WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {H.cosine_sql('q', 'c')} AS cosine
  FROM probes q JOIN coded c
    ON q.probe = c.code AND q.vec_id != c.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# recall audit: blocked ANN vs exact top-k
# ---------------------------------------------------------------------------
_AUDIT_METHODS = ("ivf", "lsh", "lsh_multiprobe")


def _audit_topk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once (method, query_id, neighbor_id) union of the
    exact top-K and all three blocked methods' top-Ks — the shared
    subtree of the recall audit, memoized per (session, dataset) and
    lineage-cut (the strip-spans collapse applied to the r10 verdict's
    second-widest plan): the audit consumes the EXACT set twice (the
    overlap join and the per-query denominator) and previously re-ran
    the brute-force scan per consumer branch; now each of the four
    corpus passes runs once and every downstream join/aggregate reads
    the 4 x N_QUERIES x K-row checkpoint."""
    def build() -> DataFrame:
        out = ann_bruteforce_topk(spark, sf_dir).select(
            F.lit("exact").alias("method"), "query_id", "neighbor_id")
        for m, fn in (("ivf", ann_ivf_topk), ("lsh", ann_lsh_topk),
                      ("lsh_multiprobe", ann_lsh_multiprobe_topk)):
            out = out.unionByName(fn(spark, sf_dir).select(
                F.lit(m).alias("method"), "query_id", "neighbor_id"))
        return out.transform(cut_lineage)
    return session_memo(spark, ("ann_audit_topk", sf_dir), build)


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@K of every blocked ANN path against the exact brute-force
    top-k — the embeddings counterpart of minhash_recall_audit, and the
    number that decides whether n_cells / LSH_NBITS / probe count need
    retuning before a production similarity run trusts the blocking. One
    row per (method, query): exact size, approx size, overlap, recall.
    The (method x query) universe is built explicitly so an empty bucket
    reads recall 0 instead of silently dropping the row.

    Scale shape: all four inputs are the existing candidates-only
    pipelines, each streaming the corpus ONCE into the memoized
    _audit_topk_table; the audit itself joins K-row-per-query sets —
    negligible, and its plan is now a handful of exchanges over the
    tiny materialized table instead of four inlined shuffle trees."""
    topk = _audit_topk_table(spark, sf_dir)
    exact = (topk.filter(F.col("method") == "exact")
             .select("query_id", "neighbor_id"))
    approx = topk.filter(F.col("method") != "exact")
    per = (
        approx.join(exact.withColumn("in_exact", F.lit(1)),
                    ["query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("n_approx"),
             F.count("in_exact").cast("long").alias("n_common"))
    )
    nex = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    universe = nex.select(
        "query_id", "n_exact",
        F.explode(F.array(*[F.lit(m) for m in _AUDIT_METHODS]))
        .alias("method"))
    return (
        universe.join(per, ["method", "query_id"], "left")
        .select(
            "method", "query_id", "n_exact",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)).cast("double")
             / F.col("n_exact").cast("double")).alias("recall"),
        )
        .orderBy("method", "query_id")
    )


ANN_RECALL_AUDIT_SQL = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ANN_BRUTEFORCE_SQL}) x),
a_ivf AS (SELECT 'ivf' AS method, query_id, neighbor_id
          FROM ({ANN_IVF_SQL}) x),
a_lsh AS (SELECT 'lsh' AS method, query_id, neighbor_id
          FROM ({ANN_LSH_SQL}) x),
a_mp AS (SELECT 'lsh_multiprobe' AS method, query_id, neighbor_id
         FROM ({ANN_LSH_MULTIPROBE_SQL}) x),
approx AS (SELECT * FROM a_ivf UNION ALL SELECT * FROM a_lsh
           UNION ALL SELECT * FROM a_mp),
nex AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY query_id),
per AS (
  SELECT a.method, a.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_approx,
         CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_common
  FROM approx a LEFT JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2),
univ AS (
  SELECT m.method, nex.query_id, nex.n_exact
  FROM nex CROSS JOIN (VALUES ('ivf'), ('lsh'), ('lsh_multiprobe'))
       m(method))
SELECT u.method, u.query_id, u.n_exact,
       CAST(COALESCE(per.n_approx, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(per.n_common, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(per.n_common, 0) AS DOUBLE)
       / CAST(u.n_exact AS DOUBLE) AS recall
FROM univ u LEFT JOIN per
  ON per.method = u.method AND per.query_id = u.query_id
ORDER BY u.method, u.query_id
"""


# ---------------------------------------------------------------------------
# scalar quantization (int8 compression for ANN storage)
# ---------------------------------------------------------------------------
Q_LEVELS = 256
Q_HASH_P = 2_147_483_647


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scalar quantization to int8 levels — the compression
    pass an ANN index runs before storing 100 TB of vectors (4 bytes ->
    1 byte per dim, distance math on codes). Levels use floor of the
    min-max affine map (NOT round: both engines floor identically, while
    round's half-way rule is an engine choice); a constant vector maps to
    level 0. Output is the per-vector audit row: range, code sum, and an
    order-sensitive code hash, so any divergence in the quantizer is a
    hash mismatch.

    Scale shape: pure scan-local expression work, zero shuffle before the
    (tiny) result."""
    emb = fan_out(t(spark, sf_dir, "embeddings"), "vec_id")
    return (
        emb.selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        )
        # vmin/vmax staged as columns BEFORE the lambda: an inline
        # array_min(v) inside transform() is re-evaluated per element
        # (lambda bodies are outside common-subexpression elimination),
        # turning an O(d) map into O(d^2) per row
        .selectExpr("vec_id", "v",
                    "array_min(v) AS vmin", "array_max(v) AS vmax")
        .selectExpr(
            "vec_id", "vmin", "vmax",
            f"""CASE WHEN vmax = vmin
                THEN transform(v, x -> CAST(0 AS BIGINT))
                ELSE transform(v, x -> CAST(least(floor(
                  (x - vmin) / (vmax - vmin)
                  * {Q_LEVELS}.0), {Q_LEVELS - 1}.0) AS BIGINT))
                END AS q""",
        )
        .selectExpr(
            "vec_id", "vmin", "vmax",
            "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x) AS q_sum",
            f"aggregate(q, CAST(0 AS BIGINT), (acc, x) -> "
            f"(acc * 31 + x) % {Q_HASH_P}) AS q_hash",
        )
        .orderBy("vec_id")
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH pre AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
ranged AS (
  SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM pre),
coded AS (
  SELECT vec_id, vmin, vmax,
         CASE WHEN vmax = vmin
         THEN list_transform(v, x -> CAST(0 AS BIGINT))
         ELSE list_transform(v, x -> CAST(least(floor(
           (x - vmin) / (vmax - vmin) * {Q_LEVELS}.0),
           {Q_LEVELS - 1}.0) AS BIGINT))
         END AS q
  FROM ranged)
SELECT vec_id, vmin, vmax,
       list_reduce(list_prepend(CAST(0 AS BIGINT), q),
                   (acc, x) -> acc + x) AS q_sum,
       list_reduce(list_prepend(CAST(0 AS BIGINT), q),
                   (acc, x) -> (acc * 31 + x) % {Q_HASH_P}) AS q_hash
FROM coded
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# product quantization (PQ): codebook assignment + asymmetric-distance search
# ---------------------------------------------------------------------------
# 64-dim embeddings -> PQ_M=8 subspaces x PQ_DSUB=8 dims, PQ_K=16 centroids
# per subspace: 64 floats compress to 8 nibbles (one BIGINT). The codebook
# is a deterministic sample: the PQ_K vectors with the smallest
# Knuth-multiplicative hash of vec_id (the repo's standard deterministic
# sample; a trained k-means codebook drops into the same shape). Both
# engines derive the identical codebook, so codes and ADC distances
# hash-match bit-for-bit (sequential left-folds, fixed subspace order).
PQ_M = 8
PQ_DSUB = 8
PQ_K = 16


def _pq_rk() -> str:
    """Deterministic seed ranking = the shared overflow-safe Knuth hash
    (operators/corpus.key_hash) — one definition, so a hash fix reaches
    every deterministic sample in the codebase."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash
    return key_hash("vec_id")


_PQ_RK = _pq_rk()


def _pq_codebook_sql(spark: SparkSession, sf_dir: str) -> str:
    """Collect the deterministic seed codebook (PQ_K vectors, bounded —
    at 100 TB this is a TakeOrderedAndProject of 16 rows) and embed it as
    a nested array literal, so assignment is pure scan-local expression
    work — the same bounded-artifact-as-literal pattern as the unigram
    vocabulary. repr() doubles round-trip exactly through both parsers.
    Session-memoized: the three PQ operators (assign, ADC, IVF+ADC)
    each need it, and without the memo each call re-runs the corpus
    scan + collect."""
    def build() -> str:
        seeds = (
            _vectors(spark, sf_dir)
            .selectExpr("vec_id", "v", f"{_PQ_RK} AS rk")
            .orderBy("rk", "vec_id")
            .limit(PQ_K)
            .collect()
        )
        return "array(" + ", ".join(
            "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in r["v"])
            + ")" for r in seeds) + ")"
    return session_memo(spark, ("pq_codebook", sf_dir), build)


def _pq_dist_expr(m: int, vec: str, dialect: str) -> str:
    """Distances from subvector m of `vec` to all PQ_K centroids —
    sequential fold, ascending dimension, identical in both engines."""
    base = m * PQ_DSUB
    if dialect == "spark":
        diff = (f"(element_at({vec}, {base} + d) "
                f"- element_at(element_at(S, k + 1), {base} + d))")
        return (f"transform(sequence(0, {PQ_K - 1}), k -> "
                f"aggregate(sequence(1, {PQ_DSUB}), CAST(0 AS DOUBLE), "
                f"(acc, d) -> acc + {diff} * {diff}))")
    diff = f"({vec}[{base} + d] - S[k + 1][{base} + d])"
    return (f"list_transform(range(0, {PQ_K}), k -> "
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, {PQ_DSUB + 1}), "
            f"d -> {diff} * {diff})), (acc, x) -> acc + x))")


def _pq_codes_df(spark: SparkSession, sf_dir: str,
                 codebook: str | None = None) -> DataFrame:
    """Per-vector PQ assignment: (vec_id, code0..code{M-1}, err0..)."""
    if codebook is None:
        codebook = _pq_codebook_sql(spark, sf_dir)
    staged = (
        _vectors(spark, sf_dir)
        .selectExpr("vec_id", "label", "v", f"{codebook} AS S")
        .selectExpr("vec_id", "label",
                    *[f"{_pq_dist_expr(m, 'v', 'spark')} AS dist{m}"
                      for m in range(PQ_M)])
    )
    return staged.selectExpr(
        "vec_id", "label",
        *[f"CAST(array_position(dist{m}, array_min(dist{m})) - 1 AS BIGINT)"
          f" AS code{m}" for m in range(PQ_M)],
        *[f"array_min(dist{m}) AS err{m}" for m in range(PQ_M)],
    )


def _pq_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once PQ-coded corpus (vec_id, label, code0.., err0..)
    — the _coded_corpus convention for the PQ family (and the
    deployment shape: an IVFPQ index stores the code bytes, it never
    re-derives them per query). Inline, every PQ consumer re-ran the
    PQ_M x PQ_K x PQ_DSUB assignment math per call, and projection
    collapse additionally substituted each dist array into its
    array_position/array_min references."""
    def build() -> DataFrame:
        return _pq_codes_df(spark, sf_dir).transform(cut_lineage)
    return session_memo(spark, ("pq_coded", sf_dir), build)


def _pq_adc_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized ADC lookup table per query vector: lut{m}[k+1] is the
    squared distance from query subvector m to centroid k, computed
    with the SAME sequential fold (ascending dimension, identical IEEE
    order) as the per-pair ADC expression it replaces — element_at(
    lut{m}, code{m}+1) is therefore bit-identical to re-deriving the
    subspace distance per (query, code) pair. N_QUERIES x PQ_M x PQ_K
    doubles: broadcast-side math, built once per (session, dataset);
    the per-pair work drops from PQ_M folds over PQ_DSUB dims to PQ_M
    array lookups, and the codebook literal leaves the pair-side plan
    entirely."""
    def build() -> DataFrame:
        codebook = _pq_codebook_sql(spark, sf_dir)
        return (
            _vectors(spark, sf_dir)
            .filter(F.col("vec_id") < N_QUERIES)
            .selectExpr("vec_id", "label", "v", f"{codebook} AS S")
            .selectExpr("vec_id", "label",
                        *[f"{_pq_dist_expr(m, 'v', 'spark')} AS lut{m}"
                          for m in range(PQ_M)])
            .transform(cut_lineage))
    return session_memo(spark, ("pq_adc_lut", sf_dir), build)


_PQ_ADC_LOOKUP = " + ".join(
    f"element_at(q.lut{m}, CAST(c.code{m} + 1 AS INT))"
    for m in range(PQ_M))


def pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression audit row per vector: nibble-packed code (8 x 4
    bits in one BIGINT — the bytes an ANN index stores instead of 256
    bytes of floats) and total quantization error.

    Scale shape: codebook = bounded artifact as literal; assignment is
    scan-local codegen (PQ_M*PQ_K*PQ_DSUB multiply-adds per row), no
    shuffle before the final sort."""
    packed = " + ".join(f"code{m} * {PQ_K ** m}" for m in range(PQ_M))
    total_err = "(" * (PQ_M - 1) + " + ".join(
        f"err{m}" if m == 0 else f"err{m})" for m in range(PQ_M))
    return (
        _pq_coded(spark, sf_dir)
        .selectExpr("vec_id", f"{packed} AS pq_code",
                    f"{total_err} AS quant_err")
        .orderBy("vec_id")
    )


def _pq_oracle_ctes() -> str:
    dist_cols = ",\n         ".join(
        f"{_pq_dist_expr(m, 'v', 'duck')} AS dist{m}" for m in range(PQ_M))
    code_cols = ",\n         ".join(
        f"CAST(list_position(dist{m}, list_min(dist{m})) - 1 AS BIGINT)"
        f" AS code{m}" for m in range(PQ_M))
    err_cols = ",\n         ".join(
        f"list_min(dist{m}) AS err{m}" for m in range(PQ_M))
    return f"""
pre0 AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
pre AS (
  -- mirror _vectors' zero-norm exclusion: the Spark PQ path builds its
  -- codebook/codes/queries from _vectors (nrm > 0); an unfiltered pre
  -- would diverge the codebook the moment a zero vector appears
  SELECT vec_id, label, v FROM pre0
  WHERE sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(v, x -> x * x)), (acc, x) -> acc + x)) > 0),
rk AS (SELECT vec_id, v, {_PQ_RK} AS rk FROM pre),
seeds AS (SELECT v, ROW_NUMBER() OVER (ORDER BY rk, vec_id) AS k
          FROM rk ORDER BY rk, vec_id LIMIT {PQ_K}),
codebook AS (SELECT list(v ORDER BY k) AS S FROM seeds),
dists AS (
  SELECT vec_id, label, v, S,
         {dist_cols}
  FROM pre CROSS JOIN codebook),
codes AS (
  SELECT vec_id, label, v, S,
         {code_cols},
         {err_cols}
  FROM dists)"""


_PQ_PACKED = " + ".join(f"code{m} * {PQ_K ** m}" for m in range(PQ_M))
_PQ_TOTAL_ERR = "(" * (PQ_M - 1) + " + ".join(
    f"err{m}" if m == 0 else f"err{m})" for m in range(PQ_M))

PQ_ASSIGN_SQL = f"""
WITH {_pq_oracle_ctes()}
SELECT vec_id, {_PQ_PACKED} AS pq_code, {_PQ_TOTAL_ERR} AS quant_err
FROM codes
ORDER BY vec_id
"""


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: full-precision queries scored
    against the compressed corpus — distance to each vector is the sum
    of exact subspace distances to its ASSIGNED centroids (ADC). This is
    the memory-bound ANN scale path: the scan touches 8 code nibbles per
    vector instead of 64 floats; rank quality degrades only by the
    quantization error audited in pq_codebook_assign.

    Plan shape mirrors the other ANN variants: broadcast the tiny query
    set (carrying its memoized ADC lookup tables — per-pair scoring is
    PQ_M array lookups, see _pq_adc_lut), stream the memoized coded
    corpus once, TakeOrderedAndProject top-k."""
    codes = _pq_coded(spark, sf_dir).select(
        "vec_id", *[f"code{m}" for m in range(PQ_M)]).alias("c")
    q = _pq_adc_lut(spark, sf_dir).drop("label", "v").alias("q")
    joined = (
        F.broadcast(q).crossJoin(codes)
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .selectExpr("q.vec_id AS query_id", "c.vec_id AS neighbor_id",
                    f"{_PQ_ADC_LOOKUP} AS adc_dist")
    )
    return _topk(joined, score="adc_dist", ascending=True)


_PQ_ADC_SUB = " + ".join(
    f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    f"list_transform(range(1, {PQ_DSUB + 1}), d -> "
    f"(q.v[{m * PQ_DSUB} + d] - S[c.code{m} + 1][{m * PQ_DSUB} + d]) "
    f"* (q.v[{m * PQ_DSUB} + d] - S[c.code{m} + 1][{m * PQ_DSUB} + d]))), "
    f"(acc, x) -> acc + x)"
    for m in range(PQ_M))

PQ_ADC_SQL = f"""
WITH {_pq_oracle_ctes()},
q AS (SELECT vec_id, v FROM pre WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_PQ_ADC_SUB} AS adc_dist
  FROM q CROSS JOIN codes c
  WHERE q.vec_id != c.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, adc_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ top-k — the composition a billion-vector index actually
    runs (FAISS IVFPQ shape): the coarse cell id (label) prunes the
    candidate list to ~1/n_cells of the corpus BEFORE any distance math,
    then ADC scores only the surviving compressed codes against the
    full-precision query.

    Plan shape: the equi-join on the cell id replaces ann_pq_adc_topk's
    crossJoin — candidate volume drops by n_cells while the scan still
    streams the coded corpus once; the query side (tiny) is broadcast;
    top-k is a WindowGroupLimit. At 100 TB this is the only PQ variant
    whose per-task distance work is bounded by cell size, not corpus
    size."""
    codes = _pq_coded(spark, sf_dir).select(
        "vec_id", "label", *[f"code{m}" for m in range(PQ_M)]).alias("c")
    q = _pq_adc_lut(spark, sf_dir).drop("v").alias("q")
    joined = (
        F.broadcast(q)
        .join(codes, (F.col("q.label") == F.col("c.label"))
              & (F.col("q.vec_id") != F.col("c.vec_id")))
        .selectExpr("q.vec_id AS query_id", "c.vec_id AS neighbor_id",
                    f"{_PQ_ADC_LOOKUP} AS adc_dist")
    )
    return _topk(joined, score="adc_dist", ascending=True)


PQ_IVF_ADC_SQL = f"""
WITH {_pq_oracle_ctes()},
q AS (SELECT vec_id, label, v FROM pre WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_PQ_ADC_SUB} AS adc_dist
  FROM q JOIN codes c
    ON q.label = c.label AND q.vec_id != c.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, adc_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_multiprobe_topk": ann_lsh_multiprobe_topk,
    "embedding_quantize": embedding_quantize,
    "pq_codebook_assign": pq_codebook_assign,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "ann_recall_audit": ann_recall_audit,
    "ann_lsh_precoded_topk": ann_lsh_precoded_topk,
}

ORACLES = {
    "ann_recall_audit": ANN_RECALL_AUDIT_SQL,
    # same oracle as the inline-coded form: identical semantics, the
    # coding pass is just materialized once per session
    "ann_lsh_precoded_topk": ANN_LSH_SQL,
    "ann_bruteforce_topk": ANN_BRUTEFORCE_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
    "ann_lsh_multiprobe_topk": ANN_LSH_MULTIPROBE_SQL,
    "embedding_quantize": EMBEDDING_QUANTIZE_SQL,
    "pq_codebook_assign": PQ_ASSIGN_SQL,
    "ann_pq_adc_topk": PQ_ADC_SQL,
    "ann_ivf_pq_topk": PQ_IVF_ADC_SQL,
}


# --- metadata-filtered exact search ------------------------------------------
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k restricted by a METADATA predicate — candidates must share
    the query's label parity (parity stands in for a facet like language
    or license that is independent of the IVF blocking: the filtered set
    spans half the cells, so this is NOT the cell-blocked ann_ivf_topk
    under another name). Pre-filtering semantics: the predicate prunes
    candidates BEFORE scoring, so a selective filter can't empty the
    result list the way post-filtering a fixed top-k can — and the
    result is EXACT within the filtered population.

    Scale shape: the derived facet becomes an equi-join key, turning the
    brute-force broadcast cross-join into a broadcast HASH join —
    scored candidates drop to |corpus| / |facets| per query, and on a
    facet-partitioned parquet layout the predicate prunes at the scan."""
    vecs = _vectors(spark, sf_dir).withColumn(
        "facet", F.pmod(F.col("label"), F.lit(2)))
    q = vecs.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = vecs.alias("c")
    joined = (
        F.broadcast(q)
        .join(c, F.col("q.facet") == F.col("c.facet"))
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


ANN_FILTERED_SQL = _oracle("AND (q.label % 2) = (c.label % 2)")

QUERIES["ann_filtered_topk"] = ann_filtered_topk
ORACLES["ann_filtered_topk"] = ANN_FILTERED_SQL


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for each query vector, the top-k
    most-similar corpus vectors with a DIFFERENT label — the "hard
    negatives" a contrastive or reranker trainer pairs against the
    positives (easy negatives are useless; the hard ones sit right at
    the decision boundary, i.e. in the query's own similarity bucket).

    Scale shape: label inequality has no equi-key, so a direct
    different-label join is a cross join at scale. Instead candidates
    come from the query's LSH bucket (the SAME materialized code column
    every LSH path shares — vectors colliding there are by construction
    the similar ones) and the label test is a cheap in-bucket filter.
    One broadcast of the tiny query side, equi-join on the code."""
    coded = _coded_corpus(spark, sf_dir)
    q = coded.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = coded.alias("c")
    joined = (
        F.broadcast(q)
        .join(c, (F.col("q.code") == F.col("c.code"))
              & (F.col("q.vec_id") != F.col("c.vec_id"))
              & (F.col("q.label") != F.col("c.label")))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (F.expr(_DOT) / (F.col("q.nrm") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    return _topk(joined)


HARD_NEGATIVE_SQL = f"""
WITH {H.normed_ctes()},
coded AS (
  SELECT vec_id, label, v, nrm, {_lsh_code('duck')} AS code FROM n),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {H.cosine_sql('q', 'c')} AS cosine
  FROM coded q JOIN coded c
    ON q.code = c.code AND q.vec_id != c.vec_id AND q.label != c.label
  WHERE q.vec_id < {N_QUERIES}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

QUERIES["hard_negative_mining"] = hard_negative_mining
ORACLES["hard_negative_mining"] = HARD_NEGATIVE_SQL


# --- embedding health: per-label norm profile ----------------------------------
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm profile + 3-sigma outlier count — the corrupt-
    vector detector a pipeline runs before trusting an embedding column
    (an encoder bug or truncated write shows up as a norm spike long
    before any downstream metric moves). Zero-norm vectors are already
    excluded by _vectors (they have no cosine direction and get their
    own count here via the raw table).

    Determinism: mean/variance come from DECIMAL sums of norm and norm^2
    (exact, order-free — a double SUM would be partition-order-dependent
    and break the cross-engine hash); the final moments are single
    double operations on those exact sums."""
    vecs = _vectors(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    zero = (emb.selectExpr(
                "label",
                "CASE WHEN sqrt(aggregate(transform(embedding, "
                "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                "CAST(0 AS DOUBLE), (acc, x) -> acc + x)) = 0 "
                "THEN 1 ELSE 0 END AS z")
            .groupBy("label").agg(F.sum("z").cast("long").alias("n_zero")))
    stats = (
        vecs.selectExpr("label", "nrm",
                        "CAST(nrm AS DECIMAL(38,8)) AS dn",
                        "CAST(nrm * nrm AS DECIMAL(38,8)) AS dn2")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("dn").cast("string").cast("double").alias("s1"),
             F.sum("dn2").cast("string").cast("double").alias("s2"))
        .selectExpr("label", "n", "s1 / n AS mean_norm",
                    "sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),"
                    " CAST(0 AS DOUBLE))) AS std_norm")
    )
    outliers = (
        vecs.select("label", "nrm")
        .join(stats.select("label", "mean_norm", "std_norm"), "label")
        .filter(F.expr("abs(nrm - mean_norm) > 3 * std_norm"))
        .groupBy("label").agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    # FULL outer against the zero-norm side: a label whose vectors are
    # ALL zero-norm has no live stats row but must still surface (n=0,
    # NULL moments, its n_zero) — dropping it would hide exactly the
    # all-corrupt label the detector exists for
    return (
        stats.join(outliers, "label", "left")
        .join(zero, "label", "full_outer")
        .selectExpr("label", "CAST(coalesce(n, 0) AS BIGINT) AS n",
                    "mean_norm", "std_norm",
                    "CAST(coalesce(n_outliers, 0) AS BIGINT) AS n_outliers",
                    "CAST(coalesce(n_zero, 0) AS BIGINT) AS n_zero")
        .orderBy("label")
    )


EMBEDDING_NORM_STATS_SQL = f"""
WITH pre AS (
  SELECT label,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)), x -> x * x)),
              (acc, x) -> acc + x)) AS nrm
  FROM embeddings),
zero AS (
  SELECT label, CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero
  FROM pre GROUP BY label),
vecs AS (SELECT label, nrm FROM pre WHERE nrm > 0),
stats AS (
  SELECT label, COUNT(*) AS n,
         CAST(CAST(SUM(CAST(nrm AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
           AS s1,
         CAST(CAST(SUM(CAST(nrm * nrm AS DECIMAL(38,8))) AS VARCHAR)
              AS DOUBLE) AS s2
  FROM vecs GROUP BY label),
moments AS (
  SELECT label, n, s1 / n AS mean_norm,
         sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), CAST(0 AS DOUBLE)))
           AS std_norm
  FROM stats),
outliers AS (
  SELECT v.label, COUNT(*) AS n_outliers
  FROM vecs v JOIN moments m ON m.label = v.label
  WHERE abs(v.nrm - m.mean_norm) > 3 * m.std_norm
  GROUP BY v.label)
SELECT COALESCE(m.label, z.label) AS label,
       CAST(COALESCE(m.n, 0) AS BIGINT) AS n, m.mean_norm, m.std_norm,
       CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers,
       CAST(COALESCE(z.n_zero, 0) AS BIGINT) AS n_zero
FROM moments m LEFT JOIN outliers o ON o.label = m.label
FULL OUTER JOIN zero z ON z.label = m.label
ORDER BY label
"""

QUERIES["embedding_norm_stats"] = embedding_norm_stats
ORACLES["embedding_norm_stats"] = EMBEDDING_NORM_STATS_SQL


# ---------------------------------------------------------------------------
# sampled recall audit (the 100 TB form)
# ---------------------------------------------------------------------------
ANN_SAMPLE_MOD = 4     # keep vectors with key_hash % 4 == 0 (~25%)


def _sampled_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% key-hash sample of the materialized coded corpus (queries
    always kept) — memoized so the four sampled top-k paths below share
    one artifact, exactly like the full-corpus paths share
    _coded_corpus."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash

    pred = (f"(({key_hash('vec_id')}) % {ANN_SAMPLE_MOD} = 0 "
            f"OR vec_id < {N_QUERIES})")

    def build() -> DataFrame:
        return (_coded_corpus(spark, sf_dir)
                .filter(F.expr(pred))
                .transform(cut_lineage))
    return session_memo(spark, ("lsh_coded_sampled", sf_dir), build)


def ann_recall_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ann_recall_audit — the full audit's exact side
    brute-forces the whole corpus per query (19 shuffles / 6 scans, the
    most expensive plan in PLANS.md), so the deployment-schedulable
    variant runs the SAME audit inside a deterministic ~25% key-hash
    corpus sample (query vectors always retained): exact and all three
    blocked paths are computed over the same sampled index, so recall is
    an apples-to-apples estimate whose candidate volume drops by the
    sample rate on every side. Same method x query universe and columns
    as the exact audit, plus the sampled corpus size for the audit
    trail. Mirrors jaccard_cap_recall_audit_sampled — the whole audit
    family now has a bounded production form.

    Scale shape: ONE sampled coded artifact feeds all four join bodies
    (the same _topk/_DOT helpers as the full paths, by construction),
    and their top-K union materializes ONCE (the _audit_topk_table
    pattern — the exact set is consumed twice downstream); everything
    after the sample filter is K-rows-per-query."""
    def build() -> DataFrame:
        coded = _sampled_coded(spark, sf_dir)
        out = _bruteforce_topk_from(coded).select(
            F.lit("exact").alias("method"), "query_id", "neighbor_id")
        for m, df in (("ivf", _ivf_topk_from(coded)),
                      ("lsh", _lsh_bucket_topk(coded)),
                      ("lsh_multiprobe", _multiprobe_topk_from(coded))):
            out = out.unionByName(df.select(
                F.lit(m).alias("method"), "query_id", "neighbor_id"))
        return out.transform(cut_lineage)
    topk = session_memo(spark, ("ann_audit_topk_sampled", sf_dir), build)
    exact = (topk.filter(F.col("method") == "exact")
             .select("query_id", "neighbor_id"))
    approx = topk.filter(F.col("method") != "exact")
    per = (
        approx.join(exact.withColumn("in_exact", F.lit(1)),
                    ["query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("n_approx"),
             F.count("in_exact").cast("long").alias("n_common"))
    )
    nex = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_corpus = _sampled_coded(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus_sampled"))
    universe = nex.select(
        "query_id", "n_exact",
        F.explode(F.array(*[F.lit(m) for m in _AUDIT_METHODS]))
        .alias("method"))
    return (
        universe.join(per, ["method", "query_id"], "left")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "method", "query_id", "n_exact",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)).cast("double")
             / F.col("n_exact").cast("double")).alias("recall"),
            "n_corpus_sampled",
        )
        .orderBy("method", "query_id")
    )


def _sampled_audit_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash

    pred = (f"(({key_hash('vec_id')}) % {ANN_SAMPLE_MOD} = 0 "
            f"OR vec_id < {N_QUERIES})")
    dot = H.cosine_sql("q", "c")
    rank_tail = (
        "SELECT query_id, neighbor_id FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        "FROM {src}) r WHERE rank <= " + str(TOP_K))
    return f"""
WITH {H.normed_ctes("n0")},
n AS (SELECT * FROM n0 WHERE {pred}),
coded AS (SELECT vec_id, label, v, nrm, {_lsh_code('duck')} AS code FROM n),
s_exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {dot} AS cosine
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}),
exact AS ({rank_tail.format(src='s_exact')}),
s_ivf AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {dot} AS cosine
  FROM n q JOIN n c ON q.label = c.label AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}),
a_ivf AS ({rank_tail.format(src='s_ivf')}),
s_lsh AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {dot} AS cosine
  FROM coded q JOIN coded c ON q.code = c.code AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}),
a_lsh AS ({rank_tail.format(src='s_lsh')}),
probes AS (
  SELECT vec_id, v, nrm, unnest({_probe_codes('duck')}) AS probe
  FROM coded WHERE vec_id < {N_QUERIES}),
s_mp AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {dot} AS cosine
  FROM probes q JOIN coded c ON q.probe = c.code AND q.vec_id != c.vec_id),
a_mp AS ({rank_tail.format(src='s_mp')}),
approx AS (
  SELECT 'ivf' AS method, * FROM a_ivf
  UNION ALL SELECT 'lsh' AS method, * FROM a_lsh
  UNION ALL SELECT 'lsh_multiprobe' AS method, * FROM a_mp),
nex AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY query_id),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus_sampled FROM coded),
per AS (
  SELECT a.method, a.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_approx,
         CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_common
  FROM approx a LEFT JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2),
univ AS (
  SELECT m.method, nex.query_id, nex.n_exact
  FROM nex CROSS JOIN (VALUES ('ivf'), ('lsh'), ('lsh_multiprobe'))
       m(method))
SELECT u.method, u.query_id, u.n_exact,
       CAST(COALESCE(per.n_approx, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(per.n_common, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(per.n_common, 0) AS DOUBLE)
       / CAST(u.n_exact AS DOUBLE) AS recall,
       (SELECT n_corpus_sampled FROM nc) AS n_corpus_sampled
FROM univ u LEFT JOIN per
  ON per.method = u.method AND per.query_id = u.query_id
ORDER BY u.method, u.query_id
"""


QUERIES["ann_recall_audit_sampled"] = ann_recall_audit_sampled
ORACLES["ann_recall_audit_sampled"] = _sampled_audit_oracle()


# --- incremental IVF: assign a delta batch to the FROZEN centroid set --------
# Same order-free split-integer mean as plans.advanced.ivf_centroids
# (constants restated to avoid an operators -> plans import): x*2^80 ~
# hi*2^58 + lo summed as DECIMAL(38,0), recombined via the
# decimal->string->double route both engines share.
_POW2_22 = float(2 ** 22)
_POW2_58 = float(2 ** 58)
_POW2_80 = float(2 ** 80)
IVF_INCR_MOD = 10
IVF_INCR_NEW = 8     # vec_id % 10 >= 8 -> incoming delta batch


def _prior_centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, c, cnrm): per-cell centroid ARRAYS over the PRIOR corpus
    only (vec_id % {IVF_INCR_MOD} < {IVF_INCR_NEW}) — the frozen coarse
    quantizer a deployment trained at snapshot time and persists; the
    delta batch must never shift it (assignment-only ingest, retrain is
    a separate scheduled job). Dims aggregate with the order-free
    split-integer sum, then fold to an array sorted by dim so the dot
    product downstream is a SEQUENTIAL fold — bit-identical in both
    engines (a groupBy SUM of doubles would be order-dependent)."""
    emb = t(spark, sf_dir, "embeddings")
    prior = emb.filter((F.col("vec_id") % IVF_INCR_MOD) < IVF_INCR_NEW)
    exploded = prior.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    y = F.col("x") * F.lit(_POW2_22)
    hi = F.floor(y)
    lo = F.floor((y - hi) * F.lit(_POW2_58))
    split = exploded.select(
        "label", "dim",
        hi.cast("decimal(38,0)").alias("hi"),
        lo.cast("decimal(38,0)").alias("lo"))
    per_dim = (
        split.groupBy("label", "dim")
        .agg(F.sum("hi").alias("sum_hi"), F.sum("lo").alias("sum_lo"),
             F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "label", "dim",
            ((F.col("sum_hi").cast("string").cast("double") * F.lit(_POW2_58)
              + F.col("sum_lo").cast("string").cast("double"))
             / F.lit(_POW2_80)
             / F.col("n_vectors").cast("double")).alias("cv")))
    return (
        per_dim.groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))),"
                    " s -> s.cv)").alias("c"))
        .selectExpr(
            "label", "c",
            "sqrt(aggregate(transform(c, x -> x * x), CAST(0 AS DOUBLE),"
            " (acc, x) -> acc + x)) AS cnrm")
    )


def assign_to_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmax-cosine assignment of a (vec_id, src_label, v, nrm) frame
    to a FROZEN (label, c, cnrm) centroid frame — one
    BroadcastNestedLoopJoin + a per-vector argmax window; ties to the
    smaller cell id. Shared by the batch delta-assign query and the
    streaming occupancy monitor so their notion of 'nearest cell'
    cannot drift."""
    scored = (
        vecs.alias("q").crossJoin(F.broadcast(cents.alias("c")))
        .selectExpr(
            "q.vec_id AS vec_id", "q.src_label AS src_label",
            "c.label AS cell",
            f"{H.dot('q.v', 'c.c', 'spark')} / (q.nrm * c.cnrm) AS cosine"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"),
                                             F.asc("cell"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "src_label",
                F.col("cell").alias("assigned_cell"), "cosine")
    )


def ann_ivf_incremental_assign(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Delta-ingest for the IVF index — the ANN twin of the incremental
    dedup forms: incoming vectors (vec_id % {IVF_INCR_MOD} >=
    {IVF_INCR_NEW}) are assigned to their nearest FROZEN centroid
    (cosine argmax over the prior-corpus coarse quantizer, ties to the
    smaller cell id) without touching the stored corpus or the
    centroids. label_match surfaces assignment drift — an incoming
    vector landing in a different cell than its source label is the
    occupancy-drift signal the streaming monitor watches.

    Scale shape: the centroid set is n_cells x dim doubles — broadcast;
    the delta batch streams through ONE BroadcastNestedLoopJoin
    (n_cells candidates per vector, argmax window per vector). The
    corpus side is never scanned; per-ingest cost is O(batch x
    n_cells). All float math is sequential array folds over
    deterministic centroid values — hash-identical cross-engine."""
    cents = _prior_centroid_arrays(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    inc = (emb.filter((F.col("vec_id") % IVF_INCR_MOD) >= IVF_INCR_NEW)
           .selectExpr(
               "vec_id", "label AS src_label",
               "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
           .selectExpr("vec_id", "src_label", "v", f"{_NORMED} AS nrm")
           .filter("nrm > 0"))
    return (
        assign_to_centroids(inc, cents)
        .selectExpr("vec_id AS new_vec_id", "assigned_cell",
                    "cosine", "assigned_cell = src_label AS label_match")
        .orderBy("new_vec_id")
    )


ANN_IVF_INCREMENTAL_SQL = f"""
WITH split AS (
  SELECT label, CAST(u.i - 1 AS INT) AS dim,
         CAST(CAST(floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0) AS BIGINT)
              AS DECIMAL(38,0)) AS hi,
         CAST(CAST(floor((CAST(u.x AS DOUBLE) * {2 ** 22}.0
                          - floor(CAST(u.x AS DOUBLE) * {2 ** 22}.0))
                         * {2 ** 58}.0) AS BIGINT) AS DECIMAL(38,0)) AS lo
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) u
  WHERE vec_id % {IVF_INCR_MOD} < {IVF_INCR_NEW}),
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
              list_transform(c, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
  FROM cents),
inc AS (
  SELECT vec_id, label AS src_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % {IVF_INCR_MOD} >= {IVF_INCR_NEW}),
incn AS (
  SELECT vec_id, src_label, v,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
  FROM inc
  WHERE nrm > 0),
scored AS (
  SELECT q.vec_id, q.src_label, c.label AS cell,
         {H.dot('q.v', 'c.c', 'duck')} / (q.nrm * c.cnrm) AS cosine
  FROM incn q CROSS JOIN cn c),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cosine DESC, cell) AS rnk
  FROM scored)
SELECT vec_id AS new_vec_id, cell AS assigned_cell, cosine,
       cell = src_label AS label_match
FROM ranked WHERE rnk = 1
ORDER BY new_vec_id
"""


QUERIES["ann_ivf_incremental_assign"] = ann_ivf_incremental_assign
ORACLES["ann_ivf_incremental_assign"] = ANN_IVF_INCREMENTAL_SQL


# --- IVF cell-confusability matrix -------------------------------------------
def _full_centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (label, c, cnrm) FULL-corpus cell centroids — the
    order-free split-integer mean over every embedding row, shared by
    the cell-similarity matrix and the rebalance plan so both diagnose
    the SAME quantizer state (and the corpus-side aggregation runs once
    per session however many maintenance queries read it)."""
    def build() -> DataFrame:
        exploded = (t(spark, sf_dir, "embeddings")
                    .select("label",
                            F.posexplode(F.col("embedding"))
                            .alias("dim", "x"))
                    .withColumn("x", F.col("x").cast("double")))
        y = F.col("x") * F.lit(_POW2_22)
        hi = F.floor(y)
        lo = F.floor((y - hi) * F.lit(_POW2_58))
        per_dim = (
            exploded.select("label", "dim",
                            hi.cast("decimal(38,0)").alias("hi"),
                            lo.cast("decimal(38,0)").alias("lo"))
            .groupBy("label", "dim")
            .agg(F.sum("hi").alias("sum_hi"), F.sum("lo").alias("sum_lo"),
                 F.count(F.lit(1)).alias("n_vectors"))
            .select(
                "label", "dim",
                ((F.col("sum_hi").cast("string").cast("double")
                  * F.lit(_POW2_58)
                  + F.col("sum_lo").cast("string").cast("double"))
                 / F.lit(_POW2_80)
                 / F.col("n_vectors").cast("double")).alias("cv")))
        return (
            per_dim.groupBy("label")
            .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv)))"
                        ", s -> s.cv)").alias("c"))
            .selectExpr(
                "label", "c",
                "sqrt(aggregate(transform(c, x -> x * x), CAST(0 AS DOUBLE),"
                " (acc, x) -> acc + x)) AS cnrm")
            .transform(cut_lineage))
    return session_memo(spark, ("ivf_full_centroids", sf_dir), build)


def ivf_cell_similarity_matrix(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Pairwise cosine between the FULL-corpus IVF cell centroids — the
    coarse quantizer's confusability diagnostic: a cell pair with high
    centroid cosine is where single-probe IVF loses recall (neighbors
    straddle the boundary) and where a multiprobe schedule should spend
    its extra probes. Read alongside ann_recall_audit: this table says
    WHY a cell's recall dips, the audit says BY HOW MUCH.

    Scale shape: centroids are n_cells x dim (tiny however big the
    corpus — the split-integer mean reduces corpus-side); the pairwise
    join is over n_cells^2 broadcast rows. Sequential-fold dot products
    keep the doubles bit-identical cross-engine."""
    cents = _full_centroid_arrays(spark, sf_dir)
    a = cents.selectExpr("label AS cell_a", "c AS ca", "cnrm AS na")
    b = cents.selectExpr("label AS cell_b", "c AS cb", "cnrm AS nb")
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("cell_a") < F.col("cell_b"))
        .selectExpr(
            "cell_a", "cell_b",
            f"{H.dot('ca', 'cb', 'spark')} / (na * nb) AS centroid_cosine")
        .orderBy("cell_a", "cell_b")
    )


IVF_CELL_SIMILARITY_SQL = f"""
WITH split AS (
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
  FROM cents)
SELECT a.label AS cell_a, b.label AS cell_b,
       {H.dot('a.c', 'b.c', 'duck')} / (a.nrm * b.nrm) AS centroid_cosine
FROM cn a JOIN cn b ON a.label < b.label
ORDER BY cell_a, cell_b
"""

QUERIES["ivf_cell_similarity_matrix"] = ivf_cell_similarity_matrix
ORACLES["ivf_cell_similarity_matrix"] = IVF_CELL_SIMILARITY_SQL


# --- IVF cell rebalance plan --------------------------------------------------
# The ANN twin of shard_repack_plan: occupancy thresholds relative to the
# MEAN cell load. Chosen so mild imbalance acts (the synthetic labels sit
# within ~25% of uniform): >1.15x mean -> split, <0.9x mean -> merge.
IVF_SPLIT_FACTOR = 1.15
IVF_MERGE_FACTOR = 0.90


def ivf_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance plan an IVF deployment executes when
    stream_ivf_occupancy_monitor / ann_recall_audit flag load imbalance:
    per cell, the occupancy vs the fleet mean and the action —

    - **split** (occupancy > {IVF_SPLIT_FACTOR} x mean): re-train the
      cell into n_subcells = ceil(occupancy / mean) children (integer
      ceiling, exact in both engines);
    - **merge** (occupancy < {IVF_MERGE_FACTOR} x mean): fold the cell
      into its nearest neighbor by centroid cosine (ties to the smaller
      cell id) — merging into the most-confusable cell moves the
      boundary least, so stored assignments stay near-valid;
    - **keep** otherwise.

    A hot cell is the IVF analogue of a hot LSH band bucket: probe cost
    is linear in cell occupancy, so a 2x-mean cell doubles the scan work
    of every query it serves. The plan is O(n_cells) rows from ONE
    corpus aggregation however big the corpus.

    Scale shape: occupancy is a map-side-combinable count; centroids
    come from the memoized split-integer mean (shared with
    ivf_cell_similarity_matrix); the nearest-neighbor argmax runs over
    the n_cells^2 broadcast grid. Sequential-fold dot products keep the
    cosine doubles bit-identical cross-engine."""
    occ = (t(spark, sf_dir, "embeddings")
           .groupBy("label")
           .agg(F.count(F.lit(1)).cast("long").alias("occupancy")))
    totals = occ.agg(
        F.sum("occupancy").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"))
    cents = _full_centroid_arrays(spark, sf_dir)
    a = cents.selectExpr("label AS cell", "c AS ca", "cnrm AS na")
    b = cents.selectExpr("label AS other", "c AS cb", "cnrm AS nb")
    w = Window.partitionBy("cell").orderBy(F.desc("cosine"), F.asc("other"))
    nearest = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("cell") != F.col("other"))
        .selectExpr(
            "cell", "other",
            f"{H.dot('ca', 'cb', 'spark')} / (na * nb) AS cosine")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(F.col("cell").alias("label"),
                F.col("other").alias("nearest_cell"),
                F.col("cosine").alias("nearest_cosine"))
    )
    return (
        occ.crossJoin(F.broadcast(totals))
        .join(nearest, "label")
        .selectExpr(
            "label AS cell", "occupancy",
            "CAST(total AS DOUBLE) / CAST(n_cells AS DOUBLE)"
            " AS mean_occupancy",
            "CAST(occupancy AS DOUBLE)"
            " / (CAST(total AS DOUBLE) / CAST(n_cells AS DOUBLE))"
            " AS occ_ratio",
            f"CASE WHEN CAST(occupancy AS DOUBLE) * n_cells"
            f"       > {IVF_SPLIT_FACTOR} * total THEN 'split'"
            f"     WHEN CAST(occupancy AS DOUBLE) * n_cells"
            f"       < {IVF_MERGE_FACTOR} * total THEN 'merge'"
            f"     ELSE 'keep' END AS action",
            f"CASE WHEN CAST(occupancy AS DOUBLE) * n_cells"
            f"       > {IVF_SPLIT_FACTOR} * total"
            f"     THEN CAST((occupancy * n_cells + total - 1) DIV total"
            f"               AS BIGINT)"
            f"     ELSE CAST(1 AS BIGINT) END AS n_subcells",
            f"CASE WHEN CAST(occupancy AS DOUBLE) * n_cells"
            f"       < {IVF_MERGE_FACTOR} * total"
            f"     THEN nearest_cell ELSE NULL END AS merge_target",
            f"CASE WHEN CAST(occupancy AS DOUBLE) * n_cells"
            f"       < {IVF_MERGE_FACTOR} * total"
            f"     THEN nearest_cosine ELSE NULL END AS merge_cosine")
        .orderBy("cell")
    )


IVF_REBALANCE_SQL = f"""
WITH split AS (
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
  FROM cents),
pairs AS (
  SELECT a.label AS cell, b.label AS other,
         {H.dot('a.c', 'b.c', 'duck')} / (a.nrm * b.nrm) AS cosine
  FROM cn a JOIN cn b ON a.label <> b.label),
nearest AS (
  SELECT cell AS label, other AS nearest_cell, cosine AS nearest_cosine
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                     ORDER BY cosine DESC, other) AS rnk
        FROM pairs) r
  WHERE rnk = 1),
occ AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS occupancy
  FROM embeddings GROUP BY label),
tot AS (
  SELECT CAST(SUM(occupancy) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM occ)
SELECT o.label AS cell, o.occupancy,
       CAST(t.total AS DOUBLE) / CAST(t.n_cells AS DOUBLE)
         AS mean_occupancy,
       CAST(o.occupancy AS DOUBLE)
         / (CAST(t.total AS DOUBLE) / CAST(t.n_cells AS DOUBLE))
         AS occ_ratio,
       CASE WHEN CAST(o.occupancy AS DOUBLE) * t.n_cells
              > {IVF_SPLIT_FACTOR} * t.total THEN 'split'
            WHEN CAST(o.occupancy AS DOUBLE) * t.n_cells
              < {IVF_MERGE_FACTOR} * t.total THEN 'merge'
            ELSE 'keep' END AS action,
       CASE WHEN CAST(o.occupancy AS DOUBLE) * t.n_cells
              > {IVF_SPLIT_FACTOR} * t.total
            THEN CAST((o.occupancy * t.n_cells + t.total - 1) // t.total
                      AS BIGINT)
            ELSE CAST(1 AS BIGINT) END AS n_subcells,
       CASE WHEN CAST(o.occupancy AS DOUBLE) * t.n_cells
              < {IVF_MERGE_FACTOR} * t.total
            THEN n.nearest_cell ELSE NULL END AS merge_target,
       CASE WHEN CAST(o.occupancy AS DOUBLE) * t.n_cells
              < {IVF_MERGE_FACTOR} * t.total
            THEN n.nearest_cosine ELSE NULL END AS merge_cosine
FROM occ o CROSS JOIN tot t JOIN nearest n ON n.label = o.label
ORDER BY cell
"""

QUERIES["ivf_rebalance_plan"] = ivf_rebalance_plan
ORACLES["ivf_rebalance_plan"] = IVF_REBALANCE_SQL
