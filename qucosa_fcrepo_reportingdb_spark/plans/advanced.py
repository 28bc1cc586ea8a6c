"""Advanced relational operators Spark has no single primitive for,
expressed as scalable compositions (SURVEY.md §2.4 'absent in reference' —
provided because the reporting consumer and training pipelines need them):

- as-of join       : union + conditional running last_value over one window
                     (single shuffle on the key — no join at all)
- range join       : time-bucketized equi-join + residual filter (the
                     bucket key turns an O(n*m) interval probe into a
                     co-partitioned equi-join)
- bounded batch    : deterministic ORDER BY + LIMIT (S4 queue semantics)
- exact percentile : SQL percentile (sort-based, exact interpolation)
- approx aggregates: HLL distinct + approximate quantiles (engine-specific
                     sketches — declared WITHOUT an oracle, rows-only check)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.plans.common import t


# --- S4: bounded deterministic batch -----------------------------------------
def queue_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference drains its queue in LIMIT-100 batches
    (PostgrePersistenceService.java:291). Deterministic form: ORDER BY key
    LIMIT n — Catalyst executes TakeOrderedAndProject (no full sort)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return (
        ev.select("event_id", "user_id", "ts")
        .orderBy("event_id")
        .limit(100)
    )


QUEUE_BATCH_SQL = """
SELECT event_id, user_id, ts
FROM events WHERE event_type = 'error'
ORDER BY event_id
LIMIT 100
"""


# --- as-of join ---------------------------------------------------------------
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the same user's most recent view at-or-before
    the purchase (an as-of/point-in-time join).

    Implementation: no join — one window over user_id ordered by (ts,
    event_id) carrying the running 'last view timestamp' as a conditional
    max. Single shuffle on user_id; at 100 TB this beats any join-based
    as-of because the probe and reference streams co-partition for free."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts",
                                           "event_type")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    return (
        ev.withColumn("last_view_ts", F.max(view_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("purchase_ts"), "last_view_ts")
        .orderBy("purchase_id")
    )


ASOF_SQL = """
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_view_ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
  FROM events)
WHERE event_type = 'purchase'
ORDER BY purchase_id
"""


# --- range (interval) join ----------------------------------------------------
RANGE_WINDOW_S = 300


def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event: how many clicks did the same user make in the
    preceding 5 minutes?

    Implementation: bucketize time at the window size; each error probes
    its own bucket and the previous one (guaranteed to cover the interval),
    so the plan is an equi-join on (user_id, bucket) plus a residual range
    filter — co-partitioned, no interval nested-loop. The oracle states the
    semantics directly as a correlated range count."""
    ev = t(spark, sf_dir, "events")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), "user_id",
                F.col("ts").alias("error_ts"),
                (F.unix_timestamp("ts") / RANGE_WINDOW_S).cast("long")
                .alias("b"))
        .withColumn("bucket", F.explode(F.array(F.col("b") - 1, F.col("b"))))
        .drop("b")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
                (F.unix_timestamp("ts") / RANGE_WINDOW_S).cast("long")
                .alias("bucket"))
    )
    joined = errors.join(
        clicks,
        (errors.user_id == clicks.c_user)
        & (errors.bucket == clicks.bucket)
        & (clicks.click_ts <= errors.error_ts)
        & (clicks.click_ts > errors.error_ts - F.expr(
            f"INTERVAL {RANGE_WINDOW_S} SECONDS")),
        "left",
    )
    return (
        joined.groupBy("error_id", "user_id", "error_ts")
        .agg(F.count("click_ts").alias("n_recent_clicks"))
        .orderBy("error_id")
    )


RANGE_JOIN_SQL = f"""
SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
       (SELECT COUNT(*) FROM events c
        WHERE c.user_id = e.user_id AND c.event_type = 'click'
          AND c.ts <= e.ts
          AND c.ts > e.ts - INTERVAL {RANGE_WINDOW_S} SECONDS)
         AS n_recent_clicks
FROM events e WHERE e.event_type = 'error'
ORDER BY error_id
"""


# --- exact percentiles --------------------------------------------------------
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sort-based percentiles (linear interpolation), matching
    quantile_cont semantics."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy("event_type")
    )


PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- approximate aggregates, error-bound-verified ----------------------------
HLL_RSD = 0.02               # requested HLL standard error
HLL_REL_ERR_MAX = 0.10       # flag threshold: 5x the rsd (probabilistic
                             # bound made effectively-certain slack)
PCTL_ACCURACY = 10_000       # percentile_approx rank-error denominator


def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct + approximate median per event type —
    WITH the error bounds checked in-query. Raw sketch values are
    engine-implementation-specific (HLL++ register layout, GK summary
    merge order), so they can never hash-match a DuckDB oracle; what CAN
    be checked deterministically is whether the sketch honored its
    contract on this data. Output: exact per-type counts plus two
    bound-satisfied flags —

    - users_err_ok: |approx - exact| within max(10% of exact, 2) — five
      times the requested 2% rsd, so a correct HLL++ sketch passes with
      overwhelming margin and a broken one fails the hash gate;
    - p50_rank_ok: the approximate median's rank window (ties counted
      via strict-less and less-or-equal) intersects the target rank
      +- (n/accuracy + 1) — percentile_approx's documented rank-error
      guarantee, so this flag is deterministically true for a
      conforming sketch.

    The DuckDB oracle computes the exact columns and asserts the flags
    TRUE: if either engine-side sketch drifts out of bound the value
    hash diverges — this is the derived exact check that upgraded the
    registry's one rows-only entry to full hash-green. Scale shape: two
    map-side-combinable aggregations plus one broadcast-able join of the
    tiny per-type frame back onto events."""
    ev = t(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=HLL_RSD)
            .alias("approx_users"),
            F.percentile_approx("value", 0.5, PCTL_ACCURACY)
            .alias("approx_p50"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count("value").alias("n_vals"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    ranks = (
        ev.select("event_type", "value")
        .join(F.broadcast(agg.select("event_type", "approx_p50")),
              "event_type")
        .groupBy("event_type")
        .agg(F.sum(F.when(F.col("value") < F.col("approx_p50"), 1)
                   .otherwise(0)).cast("long").alias("n_lt"),
             F.sum(F.when(F.col("value") <= F.col("approx_p50"), 1)
                   .otherwise(0)).cast("long").alias("n_le"))
    )
    return (
        agg.join(ranks, "event_type")
        .selectExpr(
            "event_type",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(exact_users AS BIGINT) AS exact_users",
            f"abs(approx_users - exact_users) <= "
            f"greatest(CAST(ceil(exact_users * {HLL_REL_ERR_MAX}) "
            f"AS BIGINT), CAST(2 AS BIGINT)) AS users_err_ok",
            # rank window [n_lt + 1, n_le] must intersect
            # target +- (n_vals/accuracy + 1)
            f"n_lt < CAST(floor(n_vals * 0.5) AS BIGINT)"
            f" + CAST(floor(n_vals / {PCTL_ACCURACY}) AS BIGINT) + 1"
            f" AND n_le >= CAST(floor(n_vals * 0.5) AS BIGINT)"
            f" - CAST(floor(n_vals / {PCTL_ACCURACY}) AS BIGINT) - 1"
            f" AS p50_rank_ok",
        )
        .orderBy("event_type")
    )


APPROX_USER_STATS_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS users_err_ok,
       TRUE AS p50_rank_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "queue_batch": queue_batch,
    "asof_join_purchase_view": asof_join_purchase_view,
    "range_join_error_context": range_join_error_context,
    "value_percentiles_by_type": value_percentiles_by_type,
    "approx_user_stats": approx_user_stats,
}

ORACLES = {
    "queue_batch": QUEUE_BATCH_SQL,
    "asof_join_purchase_view": ASOF_SQL,
    "range_join_error_context": RANGE_JOIN_SQL,
    "value_percentiles_by_type": PERCENTILES_SQL,
    # the sketch VALUES are engine-specific; the oracle checks the exact
    # columns and the bound-satisfied flags (see approx_user_stats)
    "approx_user_stats": APPROX_USER_STATS_SQL,
}


# --- IVF centroid training (elementwise vector aggregation) -------------------
# Order-free deterministic float accumulation. Each value is scaled by
# 2^80 and split into two BIGINT halves using only IEEE-deterministic ops
# (multiply by powers of two = exact exponent shift; floor; one subtract):
#   y  = x * 2^22;  hi = floor(y);  lo = floor((y - hi) * 2^58)
#   =>  x * 2^80 ~ hi * 2^58 + lo   (residual below 2^-80 dropped the
#       same way in both engines)
# The halves are summed as DECIMAL(38,0) integers — associative and
# commutative, so no ordering is needed — and recombined in double via
# the decimal->string->double route. A plain double->decimal cast is NOT
# usable here: Spark converts through the double's shortest string repr
# (17 significant digits) while DuckDB converts the exact binary value,
# so large scaled integers silently diverge between engines.
_POW2_22 = float(2 ** 22)
_POW2_58 = float(2 ** 58)
_POW2_80 = float(2 ** 80)


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell centroid of the embedding column — the training step for
    the IVF coarse quantizer used by operators/similarity.ann_ivf_topk.

    Elementwise mean across rows: posexplode to (label, dim, value), one
    shuffle on (label, dim) with map-side partial aggregation. Summation
    is ORDER-FREE split-integer arithmetic (see module comment above) —
    constant per-group state, unlike collect_list+sort, so it survives
    groups of any size at 100 TB."""
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    y = F.col("x") * F.lit(_POW2_22)
    hi = F.floor(y)
    lo = F.floor((y - hi) * F.lit(_POW2_58))
    split = exploded.select(
        "label", "dim",
        hi.cast("decimal(38,0)").alias("hi"),
        lo.cast("decimal(38,0)").alias("lo"),
    )
    return (
        split.groupBy("label", "dim")
        .agg(F.sum("hi").alias("sum_hi"),
             F.sum("lo").alias("sum_lo"),
             F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "label", "dim",
            ((F.col("sum_hi").cast("string").cast("double") * F.lit(_POW2_58)
              + F.col("sum_lo").cast("string").cast("double"))
             / F.lit(_POW2_80)
             / F.col("n_vectors").cast("double")).alias("centroid_val"),
            "n_vectors",
        )
        .orderBy("label", "dim")
    )


IVF_CENTROIDS_SQL = f"""
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
  SELECT label, dim, SUM(hi) AS sum_hi, SUM(lo) AS sum_lo,
         COUNT(*) AS n_vectors
  FROM split GROUP BY label, dim)
SELECT label, dim,
       (CAST(CAST(sum_hi AS VARCHAR) AS DOUBLE) * {2 ** 58}.0
        + CAST(CAST(sum_lo AS VARCHAR) AS DOUBLE))
         / {2 ** 80}.0 / CAST(n_vectors AS DOUBLE) AS centroid_val,
       CAST(n_vectors AS BIGINT) AS n_vectors
FROM sums
ORDER BY label, dim
"""


# --- scalar subquery: share of total ------------------------------------------
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share per nation (scalar subquery against the global
    total). The total is a 1-row broadcast — no second pass over the fact
    table thanks to a shared scan in AQE, and the division happens on
    bounded-magnitude doubles."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
             .cast("string").cast("double").alias("revenue"))
    )
    total = rev.agg(F.sum(F.col("revenue").cast("decimal(28,4)"))
                    .cast("string").cast("double").alias("total"))
    return (
        rev.crossJoin(F.broadcast(total))
        .select(
            "n_name",
            "revenue",
            (F.col("revenue") / F.col("total")).alias("share"),
        )
        .orderBy(F.desc("share"), "n_name")
    )


REVENUE_SHARE_SQL = """
WITH rev AS (
  SELECT n_name,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR)
              AS DOUBLE) AS revenue
  FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, revenue,
       revenue / (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(28,4)))
                  AS VARCHAR) AS DOUBLE) FROM rev) AS share
FROM rev
ORDER BY share DESC, n_name
"""


# --- unpivot ------------------------------------------------------------------
def unpivot_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long via stack(): the inverse of the pivot operator."""
    orders = t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_F"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_O"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_P"),
        )
    )
    return (
        wide.selectExpr(
            "o_orderpriority",
            "stack(3, 'F', n_F, 'O', n_O, 'P', n_P) AS (orderstatus, n_orders)",
        )
        .orderBy("o_orderpriority", "orderstatus")
    )


UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, orderstatus, n_orders
FROM wide
UNPIVOT (n_orders FOR orderstatus IN (n_F AS 'F', n_O AS 'O', n_P AS 'P'))
ORDER BY o_orderpriority, orderstatus
"""

QUERIES.update({
    "ivf_centroids": ivf_centroids,
    "nation_revenue_share": nation_revenue_share,
    "unpivot_order_counts": unpivot_order_counts,
})

ORACLES.update({
    "ivf_centroids": IVF_CENTROIDS_SQL,
    "nation_revenue_share": REVENUE_SHARE_SQL,
    "unpivot_order_counts": UNPIVOT_SQL,
})


# --- correlated aggregate subquery --------------------------------------------
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their own customer's average (correlated
    aggregate subquery). Decorrelated form: one aggregation per customer +
    an equi-join — the rewrite Catalyst itself applies to correlated
    scalar subqueries, stated explicitly so the shuffle is visible and the
    comparison arithmetic stays on bounded doubles."""
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg((F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
              .cast("string").cast("double")
              / F.count(F.lit(1)).cast("double")).alias("cust_avg"))
    )
    return (
        orders.join(per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
        .orderBy("o_orderkey")
    )


ABOVE_AVG_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cust_avg
  FROM orders GROUP BY o_custkey)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, p.cust_avg
FROM orders o JOIN per_cust p ON o.o_custkey = p.o_custkey
WHERE o.o_totalprice > p.cust_avg
ORDER BY o.o_orderkey
"""

QUERIES["orders_above_customer_avg"] = orders_above_customer_avg
ORACLES["orders_above_customer_avg"] = ABOVE_AVG_SQL


# --- analytic functions: lag / lead / rank family -----------------------------
def order_rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order analytics: days since previous order (lag), next
    order gap (lead), rank + dense_rank by price, quartile (ntile). One
    shuffle on o_custkey serves every window."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                     "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w_time)
        ).alias("days_since_prev"),
        F.datediff(
            F.lead("o_orderdate").over(w_time), F.col("o_orderdate")
        ).alias("days_to_next"),
        F.rank().over(w_price).alias("price_rank"),
        F.dense_rank().over(w_price).alias("price_dense_rank"),
        F.ntile(4).over(w_price).alias("price_quartile"),
    ).orderBy("o_custkey", "o_orderkey")


RANK_ANALYTICS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(date_diff('day',
            LAG(o_orderdate) OVER w_time, o_orderdate) AS INT)
         AS days_since_prev,
       CAST(date_diff('day',
            o_orderdate, LEAD(o_orderdate) OVER w_time) AS INT)
         AS days_to_next,
       CAST(RANK() OVER w_price AS INT) AS price_rank,
       CAST(DENSE_RANK() OVER w_price AS INT) AS price_dense_rank,
       CAST(NTILE(4) OVER w_price AS INT) AS price_quartile
FROM orders
WHERE o_custkey < 200
WINDOW w_time AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w_price AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


# --- grouping sets ------------------------------------------------------------
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube): totals by
    (flag, status), by flag alone, and grand total — one pass."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_gs")
    return spark.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4)))
                    AS STRING) AS DOUBLE) AS sum_price,
               COUNT(*) AS n_items
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY returnflag, linestatus
    """)


GROUPING_SETS_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR)
            AS DOUBLE) AS sum_price,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY returnflag, linestatus
"""

QUERIES["order_rank_analytics"] = order_rank_analytics
QUERIES["revenue_grouping_sets"] = revenue_grouping_sets
ORACLES["order_rank_analytics"] = RANK_ANALYTICS_SQL
ORACLES["revenue_grouping_sets"] = GROUPING_SETS_SQL


# --- deterministic hash sampling ----------------------------------------------
SAMPLE_RATE_NUM = 429496729  # ~10% of the 32-bit hash space (corpus.MOD)


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample: keep rows whose multiplicative key hash
    lands under the rate threshold. Unlike TABLESAMPLE/rand(), the subset
    is a pure function of the key — stable across runs, engines, partition
    counts, and cluster sizes, which is what training-data splits need.
    Pure integer arithmetic, identical in any engine. The key is reduced
    mod 2^32 before the multiply (operators/corpus.key_hash) so the
    product never overflows BIGINT at 100 TB id ranges."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash

    ev = t(spark, sf_dir, "events")
    h = F.expr(key_hash("event_id"))
    return (
        ev.filter(h < SAMPLE_RATE_NUM)
        .select("event_id", "user_id", "event_type",
                h.alias("sample_hash"))
        .orderBy("event_id")
    )


def _sample_hash_sql() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash
    return key_hash("event_id")


DETERMINISTIC_SAMPLE_SQL = f"""
SELECT event_id, user_id, event_type,
       {_sample_hash_sql()} AS sample_hash
FROM events
WHERE {_sample_hash_sql()} < {SAMPLE_RATE_NUM}
ORDER BY event_id
"""

QUERIES["deterministic_sample"] = deterministic_sample
ORACLES["deterministic_sample"] = DETERMINISTIC_SAMPLE_SQL


# --- k-means refinement round (iterative quantizer training) ------------------
KM_K = 8


def kmeans_refine_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means over the embedding column —
    the quantizer-training step beyond ivf_centroids' single mean pass:
    deterministic seed init (Knuth-hash sample), assign, recompute
    centroids with the ORDER-FREE split-integer mean, reassign. Output is
    the per-vector (init, final, moved) assignment — all integers, so the
    cross-engine hash pins every distance comparison without a single
    double in the result.

    Scale shape per phase: (1) init assignment is scan-local folds
    against the seed literal (the bounded-artifact pattern); (2) centroid
    recompute is posexplode -> one (cluster, dim) shuffle with map-side
    partial aggregation and CONSTANT per-group state (no collect_list
    over corpus rows — the only collect_list groups are per-cluster dim
    lists, bounded by the 64-dim vector width); (3) reassignment joins
    the K-row centroid table broadcast against the corpus and ranks with
    one window on vec_id. Further iterations repeat phases 2-3; rounds
    are bounded by the caller exactly as dedup's connected-components
    loop."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash

    vecs = t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    seeds = (vecs.selectExpr("vec_id", "v", f"{key_hash('vec_id')} AS rk")
             .orderBy("rk", "vec_id").limit(KM_K).collect())
    s_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in r["v"]) + ")"
        for r in seeds) + ")"
    dist = ("aggregate(zip_with(v, {c}, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS DOUBLE), (acc, z) -> acc + z)")
    assign0 = (
        vecs.selectExpr("vec_id", "v", f"{s_lit} AS S")
        .selectExpr(
            "vec_id", "v",
            f"transform(sequence(1, {KM_K}), k -> "
            + dist.format(c="element_at(S, k)") + ") AS d0")
        .selectExpr(
            "vec_id", "v",
            "CAST(array_position(d0, array_min(d0)) - 1 AS BIGINT) AS c0")
    )
    ex = assign0.select("c0", F.posexplode("v").alias("dim", "x"))
    y = F.col("x") * F.lit(_POW2_22)
    hi = F.floor(y)
    lo = F.floor((y - hi) * F.lit(_POW2_58))
    cents = (
        ex.select("c0", "dim",
                  hi.cast("decimal(38,0)").alias("hi"),
                  lo.cast("decimal(38,0)").alias("lo"))
        .groupBy("c0", "dim")
        .agg(F.sum("hi").alias("sum_hi"), F.sum("lo").alias("sum_lo"),
             F.count(F.lit(1)).alias("n"))
        .select(
            "c0", "dim",
            ((F.col("sum_hi").cast("string").cast("double") * F.lit(_POW2_58)
              + F.col("sum_lo").cast("string").cast("double"))
             / F.lit(_POW2_80) / F.col("n").cast("double")).alias("cv"))
    )
    carr = (
        cents.groupBy("c0")
        .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))), "
                    "s -> s.cv)").alias("cvec"))
        .withColumnRenamed("c0", "k")
    )
    scored = (
        assign0.crossJoin(F.broadcast(carr))
        .selectExpr("vec_id", "c0", "k", dist.format(c="cvec") + " AS d1")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d1"), F.asc("k"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id"),
                F.col("c0").alias("cluster_init"),
                F.col("k").alias("cluster_final"),
                (F.col("c0") != F.col("k")).alias("moved"))
        .orderBy("vec_id")
    )


def _kmeans_oracle() -> str:
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import key_hash

    def fold(c: str) -> str:
        return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"list_transform(range(1, len(v) + 1), "
                f"i -> (v[i] - {c}[i]) * (v[i] - {c}[i]))), "
                f"(acc, x) -> acc + x)")

    return f"""
WITH pre AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
rk AS (SELECT vec_id, v, {key_hash('vec_id')} AS rk FROM pre),
seeds AS (SELECT v, ROW_NUMBER() OVER (ORDER BY rk, vec_id) AS k
          FROM rk ORDER BY rk, vec_id LIMIT {KM_K}),
sarr AS (SELECT list(v ORDER BY k) AS S FROM seeds),
d0 AS (
  SELECT vec_id, v,
         list_transform(range(1, {KM_K + 1}), k -> {fold('S[k]')}) AS d0
  FROM pre CROSS JOIN sarr),
a0 AS (
  SELECT vec_id, v,
         CAST(list_position(d0, list_min(d0)) - 1 AS BIGINT) AS c0
  FROM d0),
ex AS (
  SELECT c0, CAST(u.i - 1 AS INT) AS dim, u.x AS x
  FROM a0, LATERAL (SELECT unnest(v) AS x,
                           generate_subscripts(v, 1) AS i) u),
split AS (
  SELECT c0, dim,
         CAST(CAST(floor(x * {2 ** 22}.0) AS BIGINT) AS DECIMAL(38,0)) AS hi,
         CAST(CAST(floor((x * {2 ** 22}.0 - floor(x * {2 ** 22}.0))
                         * {2 ** 58}.0) AS BIGINT) AS DECIMAL(38,0)) AS lo
  FROM ex),
cent AS (
  SELECT c0, dim,
         (CAST(CAST(SUM(hi) AS VARCHAR) AS DOUBLE) * {2 ** 58}.0
          + CAST(CAST(SUM(lo) AS VARCHAR) AS DOUBLE))
           / {2 ** 80}.0 / CAST(COUNT(*) AS DOUBLE) AS cv
  FROM split GROUP BY c0, dim),
carr AS (SELECT c0 AS k, list(cv ORDER BY dim) AS cvec
         FROM cent GROUP BY c0),
scored AS (
  SELECT a.vec_id, a.c0, c.k, {fold('c.cvec').replace('len(v)', 'len(a.v)').replace('(v[i]', '(a.v[i]')} AS d1
  FROM a0 a CROSS JOIN carr c),
fin AS (
  SELECT vec_id, c0, k,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1, k) AS rn
  FROM scored)
SELECT vec_id, c0 AS cluster_init, k AS cluster_final,
       c0 != k AS moved
FROM fin WHERE rn = 1
ORDER BY vec_id
"""


KMEANS_REFINE_SQL = _kmeans_oracle()

QUERIES["kmeans_refine_assignments"] = kmeans_refine_assignments
ORACLES["kmeans_refine_assignments"] = KMEANS_REFINE_SQL


# --- arithmetically-defined HLL (oracle-checkable approx distinct) -----------
# Unlike approx_count_distinct (engine-specific sketch bytes, rows-only
# check), this HyperLogLog is defined purely arithmetically, so Spark and
# DuckDB compute IDENTICAL register values and estimates — the approx
# class with a real value-hash oracle. 64 registers; rho comes from
# bit-length (integer semantics, no float log); 2^-M is built by integer
# shift + one exact power-of-two division, never pow().
HLL_REGS = 64           # m = 2^6 registers, h%64 selects, h//64 ranks
HLL_W_BITS = 26         # 32-bit hash minus 6 register bits
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / HLL_REGS)) * HLL_REGS * HLL_REGS
# Register/rank quality needs an avalanching hash — the repo's single
# Knuth multiply is equidistributed but keeps sequential-id structure in
# the high bits (measured +84% HLL error on 0..n ids). Three
# xorshift-multiply rounds fix it; every multiplier is < 2^31 so each
# product stays < 2^63 — Spark (non-ANSI) would wrap silently while
# DuckDB raises, so staying in-range is what keeps the engines identical.
_M32 = 4294967296
_HLL_MIX = [
    ("h1", "mul", 1640531527, "h0"),
    ("h2", "xsr", 15, "h1"),
    ("h3", "mul", 1103515245, "h2"),
    ("h4", "xsr", 13, "h3"),
    ("h5", "mul", 214013, "h4"),
    ("h6", "xsr", 16, "h5"),
]


def _hll_mix_stages(dialect: str) -> list[str]:
    out = []
    for name, kind, c, prev in _HLL_MIX:
        if kind == "mul":
            out.append(f"(({prev}) * {c}) % {_M32} AS {name}")
        elif dialect == "spark":
            out.append(f"({prev}) ^ shiftright({prev}, {c}) AS {name}")
        else:
            out.append(f"xor({prev}, ({prev}) >> {c}) AS {name}")
    return out


def _hll_estimate_case() -> str:
    """Full HLL estimator incl. the small-range linear-counting switch,
    as ONE dialect-neutral SQL expression. Linear counting is
    m * ln(m / V) — ln() carries no cross-engine bit guarantee, but V
    (the zero-register count) has only {HLL_REGS}+1 possible values, so
    every possible correction is precomputed in Python and embedded as a
    literal: both engines parse the identical digit strings into
    identical doubles. The raw-vs-LC switch compares bit-identical
    doubles against the standard 2.5*m threshold."""
    import math

    # CAST('digits' AS DOUBLE), never a bare decimal literal: DuckDB
    # types bare decimals as DECIMAL and converts later (extra rounding);
    # both engines parse the quoted digit string straight to the
    # correctly-rounded double.
    def d(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    lc = " ".join(
        f"WHEN n_zero_regs = {v} THEN "
        f"{d(HLL_REGS * math.log(HLL_REGS / v))}"
        for v in range(1, HLL_REGS + 1))
    return (f"CASE WHEN n_zero_regs > 0 "
            f"AND ({d(_HLL_ALPHA_M2)} / denom) <= {d(2.5 * HLL_REGS)} "
            f"THEN CASE {lc} END "
            f"ELSE {d(_HLL_ALPHA_M2)} / denom END")


def hll_distinct_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct users per event type, with the
    exact count joined alongside for an audited relative error.

    Scale shape: one map-side-combinable MAX per (type, register) — 64
    groups per type regardless of cardinality, the whole point of HLL at
    100 TB (constant sketch state; a real deployment unions these
    registers across partitions/days the same way). The register list is
    completed against the full 0..63 domain (absent registers count as
    rank 0) and folded IN REGISTER ORDER — a fixed 64-element sequential
    fold, so the one float reduction is order-pinned in both engines.
    The estimate INCLUDES the small-range linear-counting correction:
    ln() has no cross-engine bit guarantee, so every possible correction
    (the zero-register count has only 65 values) is precomputed in
    Python and embedded as a literal — see _hll_estimate_case. The
    zero-register count is also emitted for observability."""
    ev = t(spark, sf_dir, "events")
    # register construction is shared with hll_register_union — one
    # implementation, so the merge==recompute proof covers this query's
    # registers too
    regs = _hll_registers(ev)
    dom = (ev.select("event_type").distinct()
           .selectExpr("event_type",
                       f"explode(sequence(0, {HLL_REGS - 1})) AS reg"))
    full = (dom.join(regs, ["event_type", "reg"], "left")
            .withColumn("m", F.coalesce("m", F.lit(0))))
    sk = (full.groupBy("event_type")
          .agg(F.expr(
              "aggregate(transform(array_sort(collect_list(struct(reg, m))),"
              " s -> CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT),"
              " CAST(s.m AS INT)) AS DOUBLE)),"
              " CAST(0 AS DOUBLE), (acc, x) -> acc + x)").alias("denom"),
              F.sum((F.col("m") == 0).cast("long")).alias("n_zero_regs")))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    est = _hll_estimate_case()
    return (
        sk.join(exact, "event_type")
        .selectExpr("event_type", "n_exact", "n_zero_regs",
                    f"{est} AS hll_estimate")
        .selectExpr("event_type", "n_exact", "n_zero_regs", "hll_estimate",
                    "(hll_estimate - CAST(n_exact AS DOUBLE))"
                    " / CAST(n_exact AS DOUBLE) AS rel_error")
        .orderBy("event_type")
    )


_HLL_MIX_CTES = ",\n".join(
    f"m{i + 1} AS (SELECT event_type, {stage} "
    f"FROM m{i})"
    for i, stage in enumerate(_hll_mix_stages("duck")))

HLL_ARITH_SQL = f"""
WITH m0 AS (SELECT event_type, user_id % {_M32} AS h0 FROM events),
{_HLL_MIX_CTES},
rho AS (
  SELECT event_type,
         CAST(h % {HLL_REGS} AS BIGINT) AS reg,
         CAST(h // {HLL_REGS} AS BIGINT) AS w
  FROM (SELECT event_type, h6 AS h FROM m{len(_HLL_MIX)})),
r2 AS (
  SELECT event_type, reg,
         CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
              ELSE {HLL_W_BITS + 1} - length(bin(w)) END AS rho
  FROM rho),
regs AS (
  SELECT event_type, reg, MAX(rho) AS m FROM r2 GROUP BY event_type, reg),
dom AS (
  SELECT t.event_type, g.reg
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(range(0, {HLL_REGS})) AS reg) g),
full_regs AS (
  SELECT dom.event_type, dom.reg, COALESCE(regs.m, 0) AS m
  FROM dom LEFT JOIN regs
    ON dom.event_type = regs.event_type AND dom.reg = regs.reg),
sk AS (
  SELECT event_type,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(CAST(1 AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << CAST(m AS INT)) AS DOUBLE)
                  ORDER BY reg)),
             (acc, x) -> acc + x) AS denom,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_regs
  FROM full_regs GROUP BY event_type),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type),
est AS (
  SELECT s.event_type, e.n_exact, s.n_zero_regs,
         {_hll_estimate_case()} AS hll_estimate
  FROM sk s JOIN exact e USING (event_type))
SELECT event_type, n_exact, n_zero_regs, hll_estimate,
       (hll_estimate - CAST(n_exact AS DOUBLE))
         / CAST(n_exact AS DOUBLE) AS rel_error
FROM est
ORDER BY event_type
"""

QUERIES["hll_distinct_arith"] = hll_distinct_arith
ORACLES["hll_distinct_arith"] = HLL_ARITH_SQL


# --- ANALYZE-style column profiling ------------------------------------------
# (name, kind): the typed column inventory of lineitem. Profiles feed a
# cost-based optimizer and a data-quality dashboard alike; the operator
# shape is what matters at 100 TB — ONE scan computing every per-column
# statistic, stacked to rows afterward, never one scan per column.
_PROFILE_COLS = [
    ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
    ("l_linenumber", "num"), ("l_quantity", "num"),
    ("l_extendedprice", "num"), ("l_discount", "num"), ("l_tax", "num"),
    ("l_returnflag", "str"), ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def column_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (ANALYZE statistics): null count, exact
    distinct count, min/max — numerics and timestamps in a DOUBLE column
    (timestamps as exact epoch-micros integers, so the double carries
    them losslessly and no engine-specific timestamp-to-string formatting
    is compared), strings in their own min/max columns.

    Scale shape: one scan, one aggregate node holding all 11 columns'
    statistics (Spark expands multi-distinct into one Expand + two-phase
    agg — still a single pass over the data); the stack() to rows runs on
    the single wide result row. Never 11 scans. The Expand multiplies
    rows 12x BEFORE the partial aggregate, so the scan is fanned out
    first — a single-file local scan would otherwise run the whole
    Expand on one task (measured 24 s -> ~3 s at sf0.1); at 100 TB the
    scan already has thousands of splits and fan_out is a no-op."""
    from qucosa_fcrepo_reportingdb_spark.plans.common import fan_out

    li = fan_out(t(spark, sf_dir, "lineitem"))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        elif kind == "ts":
            aggs.append(F.min(F.unix_micros(F.col(c)))
                        .cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(F.unix_micros(F.col(c)))
                        .cast("double").alias(f"mx_{c}"))
        else:
            aggs.append(F.min(c).alias(f"mns_{c}"))
            aggs.append(F.max(c).alias(f"mxs_{c}"))
    wide = li.agg(*aggs)
    cells = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            mns, mxs = f"mns_{c}", f"mxs_{c}"
        else:
            mn, mx = f"mn_{c}", f"mx_{c}"
            mns, mxs = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
        cells.append(f"'{c}', nn_{c}, nd_{c}, {mn}, {mx}, {mns}, {mxs}")
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {', '.join(cells)}) AS "
            "(column_name, n_nulls, n_distinct, min_num, max_num,"
            " min_str, max_str)")
        .select("column_name", "n_rows", "n_nulls", "n_distinct",
                "min_num", "max_num", "min_str", "max_str")
        .orderBy("column_name")
    )


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(MIN({c}) AS DOUBLE)"
            mx = f"CAST(MAX({c}) AS DOUBLE)"
            mns = mxs = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = f"CAST(MIN(epoch_us({c})) AS DOUBLE)"
            mx = f"CAST(MAX(epoch_us({c})) AS DOUBLE)"
            mns = mxs = "CAST(NULL AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            mns, mxs = f"MIN({c})", f"MAX({c})"
        parts.append(f"""
  SELECT '{c}' AS column_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {mns} AS min_str, {mxs} AS max_str
  FROM lineitem""")
    return ("\nUNION ALL\n".join(parts)
            + "\nORDER BY column_name")


COLUMN_PROFILE_SQL = _profile_oracle()

QUERIES["column_profile_lineitem"] = column_profile_lineitem
ORACLES["column_profile_lineitem"] = COLUMN_PROFILE_SQL


# ---------------------------------------------------------------------------
# count-min sketch over token occurrences (arithmetically defined)
# ---------------------------------------------------------------------------
CM_P = 2_147_483_647     # Mersenne prime, same field as functions/hashing
CM_D = 4                 # hash rows
CM_W = 64                # buckets per row
CM_PROBES = 20           # audited tokens


def _cm_params() -> "list[tuple[int, int]]":
    """Deterministic pairwise-independent-ish (a, b) per sketch row —
    distinct constants from the minhash family so the two sketches never
    share collision structure."""
    return [((2 * j + 1) * 48_611 % CM_P, (j * 961_748_927 + 13) % CM_P)
            for j in range(CM_D)]


def _tok_hash(tok: str, dialect: str) -> str:
    """Scalar polynomial token hash — canonical fold lives in
    functions/hashing.token_hash_scalar; the sketch must hash tokens
    bit-identically with the dedup pipeline."""
    from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
    return H.token_hash_scalar(tok, dialect)


def _cm_bucket(hash_col: str, row_var: str) -> str:
    """CASE expression mapping (row index, token hash) -> bucket, built
    with the hash column NAME as a parameter — no post-hoc textual
    rewriting of generated SQL."""
    return "CASE " + " ".join(
        f"WHEN {row_var} = {j} THEN ({a} * {hash_col} + {b})"
        f" % {CM_P} % {CM_W}"
        for j, (a, b) in enumerate(_cm_params())) + " END"


def countmin_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch counters over every token occurrence in the
    corpus: CM_D hash rows x CM_W buckets, counter = number of
    occurrences hashing into the cell.

    Scale shape: tokenize + hash are scan-local; the only shuffle is the
    (row, bucket) aggregation whose key space is CM_D*CM_W = 256 cells
    regardless of corpus size — constant communication, the reason
    count-min is the streaming-frequency sketch of choice at 100 TB
    (cells union across partitions/days by addition)."""
    docs = t(spark, sf_dir, "documents")
    from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
    toks = (docs.selectExpr(f"explode({H.tokens('text', 'spark')}) AS tok")
            .selectExpr(f"{_tok_hash('tok', 'spark')} AS th"))
    rows = toks.selectExpr(
        "th", f"explode(sequence(0, {CM_D - 1})) AS row_idx")
    return (
        rows.selectExpr("row_idx",
                        f"{_cm_bucket('th', 'row_idx')} AS bucket")
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
        .orderBy("row_idx", "bucket")
    )


def _cm_counts_sql() -> str:
    from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
    return f"""
WITH toks AS (
  SELECT u.tok FROM documents,
       LATERAL (SELECT unnest({H.tokens('text', 'duck')}) AS tok) u),
th AS (SELECT {_tok_hash('tok', 'duck')} AS th FROM toks),
cells AS (
  SELECT j.j AS row_idx, {_cm_bucket('th', 'j.j')} AS bucket
  FROM th, LATERAL (SELECT unnest(generate_series(0, {CM_D - 1})) AS j) j)
SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS counter
FROM cells
GROUP BY row_idx, bucket
ORDER BY row_idx, bucket
"""


def countmin_probe_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the sketch: for the CM_PROBES most frequent tokens, the
    count-min estimate (min over rows of the probed cells) next to the
    true count and the overestimate — by construction estimate >= truth,
    and the gap is what a capacity planner checks before sizing CM_W.

    Scale shape: true counts are one token-keyed aggregation (the probe
    list is top-k via TakeOrderedAndProject); the 256-cell counter table
    and the probe list both broadcast — no large join."""
    docs = t(spark, sf_dir, "documents")
    from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
    toks = docs.selectExpr(f"explode({H.tokens('text', 'spark')}) AS tok")
    true_counts = (toks.groupBy("tok")
                   .agg(F.count(F.lit(1)).alias("true_count"))
                   .orderBy(F.desc("true_count"), "tok")
                   .limit(CM_PROBES))
    counters = countmin_token_counts(spark, sf_dir)
    probes = true_counts.selectExpr(
        "tok", "true_count", f"{_tok_hash('tok', 'spark')} AS th")
    probe_cells = (probes
                   .selectExpr("tok", "true_count", "th",
                               f"explode(sequence(0, {CM_D - 1}))"
                               " AS row_idx")
                   .selectExpr("tok", "true_count", "row_idx",
                               f"{_cm_bucket('th', 'row_idx')} AS bucket"))
    return (
        probe_cells.join(F.broadcast(counters), ["row_idx", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("counter").alias("cm_estimate"))
        .selectExpr("tok", "true_count", "cm_estimate",
                    "cm_estimate - true_count AS overestimate")
        .orderBy(F.desc("true_count"), "tok")
    )


def _cm_probe_sql() -> str:
    from qucosa_fcrepo_reportingdb_spark.functions import hashing as H
    return f"""
WITH toks AS (
  SELECT u.tok FROM documents,
       LATERAL (SELECT unnest({H.tokens('text', 'duck')}) AS tok) u),
counters AS (
  SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS counter
  FROM (SELECT j.j AS row_idx, {_cm_bucket('x.th', 'j.j')} AS bucket
        FROM (SELECT {_tok_hash('tok', 'duck')} AS th FROM toks) x,
             LATERAL (SELECT unnest(generate_series(0, {CM_D - 1})) AS j) j)
  GROUP BY row_idx, bucket),
true_counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM toks GROUP BY tok
  ORDER BY true_count DESC, tok LIMIT {CM_PROBES}),
probe_cells AS (
  SELECT tok, true_count, j.j AS row_idx,
         {_cm_bucket('p.th', 'j.j')} AS bucket
  FROM (SELECT tok, true_count, {_tok_hash('tok', 'duck')} AS th
        FROM true_counts) p,
       LATERAL (SELECT unnest(generate_series(0, {CM_D - 1})) AS j) j)
SELECT pc.tok, pc.true_count, MIN(c.counter) AS cm_estimate,
       MIN(c.counter) - pc.true_count AS overestimate
FROM probe_cells pc
JOIN counters c ON c.row_idx = pc.row_idx AND c.bucket = pc.bucket
GROUP BY pc.tok, pc.true_count
ORDER BY pc.true_count DESC, pc.tok
"""


QUERIES["countmin_token_counts"] = countmin_token_counts
ORACLES["countmin_token_counts"] = _cm_counts_sql()
QUERIES["countmin_probe_errors"] = countmin_probe_errors
ORACLES["countmin_probe_errors"] = _cm_probe_sql()


# ---------------------------------------------------------------------------
# Z-order layout quality (file-skipping / clustering design aid)
# ---------------------------------------------------------------------------
ZO_BITS = 8              # low bits per dimension interleaved
ZO_BUCKET_SHIFT = 256    # z div 256 -> 256 buckets


def _z_interleave(pk: str, sk: str, dialect: str = "spark") -> str:
    """Bit interleaving via div/mod arithmetic (identical semantics in
    Spark SQL and DuckDB — no reliance on either engine's bitwise-op
    type coercions): z = sum_i bit_i(pk)*4^i + 2*bit_i(sk)*4^i. Only
    the integer-division spelling differs (DIV vs //)."""
    d = "DIV" if dialect == "spark" else "//"
    terms = []
    for i in range(ZO_BITS):
        terms.append(f"(({pk} {d} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({sk} {d} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would Z-ordering the table by (partkey, suppkey) beat linear
    layout for two-column predicates? For each 256-row-group bucket
    under BOTH layouts, compute the min/max bounding box of the two key
    columns and report the per-layout average and worst box area — the
    exact statistic a parquet reader's row-group skipping consults.
    Z-order bounds BOTH dimensions per bucket; linear layout bounds only
    its sort key. The answer is DATA-DEPENDENT — on this synthetic data
    the supplier domain is much narrower than the part domain, so the
    advisor correctly reports linear as the tighter layout; on square
    domains the z-boxes win. That is the point: measure, don't assume.

    Scale shape: the z-value is scan-local arithmetic; each layout is
    one map-side-combinable aggregation on its bucket id, then a tiny
    rollup over 256+256 buckets. At 100 TB this runs as a layout
    advisor BEFORE a rewrite job commits to clustering keys."""
    li = t(spark, sf_dir, "lineitem")
    keyed = li.selectExpr(
        f"l_partkey % {1 << ZO_BITS} AS pk",
        f"l_suppkey % {1 << ZO_BITS} AS sk")
    z = keyed.selectExpr(
        "pk", "sk", f"({_z_interleave('pk', 'sk')}) DIV {ZO_BUCKET_SHIFT}"
                    " AS bucket")
    lin = keyed.selectExpr("pk", "sk", "pk AS bucket")

    def boxes(df: DataFrame, layout: str) -> DataFrame:
        return (df.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min("pk").alias("pk_min"), F.max("pk").alias("pk_max"),
                     F.min("sk").alias("sk_min"), F.max("sk").alias("sk_max"))
                .selectExpr(
                    f"'{layout}' AS layout",
                    "(pk_max - pk_min + 1) * (sk_max - sk_min + 1) AS area")
                .groupBy("layout")
                .agg(F.count(F.lit(1)).alias("n_buckets"),
                     F.sum("area").alias("total_area"),
                     F.max("area").alias("max_area")))

    return (boxes(z, "zorder").unionByName(boxes(lin, "linear"))
            .selectExpr("layout", "n_buckets", "total_area", "max_area",
                        "CAST(total_area AS DOUBLE)"
                        " / CAST(n_buckets AS DOUBLE) AS avg_area")
            .orderBy("layout"))


def _zorder_sql() -> str:
    return f"""
WITH keyed AS (
  SELECT l_partkey % {1 << ZO_BITS} AS pk, l_suppkey % {1 << ZO_BITS} AS sk
  FROM lineitem),
z AS (SELECT pk, sk, ({_z_interleave('pk', 'sk', 'duck')}) // {ZO_BUCKET_SHIFT}
               AS bucket FROM keyed),
lin AS (SELECT pk, sk, pk AS bucket FROM keyed),
zb AS (
  SELECT 'zorder' AS layout,
         (MAX(pk) - MIN(pk) + 1) * (MAX(sk) - MIN(sk) + 1) AS area
  FROM z GROUP BY bucket),
lb AS (
  SELECT 'linear' AS layout,
         (MAX(pk) - MIN(pk) + 1) * (MAX(sk) - MIN(sk) + 1) AS area
  FROM lin GROUP BY bucket),
boxes AS (SELECT * FROM zb UNION ALL SELECT * FROM lb)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(area) AS BIGINT) AS total_area,
       CAST(MAX(area) AS BIGINT) AS max_area,
       CAST(SUM(area) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_area
FROM boxes
GROUP BY layout
ORDER BY layout
"""


QUERIES["zorder_layout_stats"] = zorder_layout_stats
ORACLES["zorder_layout_stats"] = _zorder_sql()


# ---------------------------------------------------------------------------
# join-key skew report (advisor feeding operators/skew.py rewrites)
# ---------------------------------------------------------------------------
_SKEW_KEYS = [("lineitem", "l_suppkey"), ("lineitem", "l_partkey"),
              ("orders", "o_custkey"), ("events", "user_id")]


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per join key: row count, distinct keys, the heaviest key's row
    count, and the skew factor (max over mean) — the number that decides
    whether a shuffle join on that key needs salting (operators/skew.py)
    or AQE skew-join splitting before it ships at 100 TB. Also emits the
    heaviest key itself (deterministic min on ties) so an engineer can
    eyeball WHAT is hot, not just that something is.

    Scale shape: one map-side-combinable count per key, then a 1-row
    rollup per table — the per-key intermediate is the same shuffle the
    real join would do, so the report costs one aggregation, not a join."""
    out = None
    for table, key in _SKEW_KEYS:
        per_key = (t(spark, sf_dir, table)
                   .groupBy(F.col(key).alias("k"))
                   .agg(F.count(F.lit(1)).alias("n")))
        # heaviest key with deterministic min-on-tie: max of (n, -k)
        row = (per_key.agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max(F.struct(F.col("n").alias("n"),
                           (-F.col("k")).cast("long").alias("nk")))
            .alias("top"))
            .selectExpr(
                f"'{table}.{key}' AS join_key",
                "n_rows", "n_keys", "top.n AS max_key_rows",
                "CAST(-top.nk AS BIGINT) AS heaviest_key",
                "CAST(top.n AS DOUBLE) * CAST(n_keys AS DOUBLE)"
                " / CAST(n_rows AS DOUBLE) AS skew_factor"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_key")


def _skew_report_sql() -> str:
    parts = []
    for table, key in _SKEW_KEYS:
        parts.append(f"""
WITH pk AS (SELECT {key} AS k, COUNT(*) AS n FROM {table} GROUP BY {key})
SELECT '{table}.{key}' AS join_key,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       CAST((SELECT MIN(k) FROM pk WHERE n = (SELECT MAX(n) FROM pk))
            AS BIGINT) AS heaviest_key,
       CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS skew_factor
FROM pk""")
    return ("SELECT * FROM (" +
            " UNION ALL ".join(f"({p})" for p in parts) +
            ") ORDER BY join_key")


QUERIES["join_skew_report"] = join_skew_report
ORACLES["join_skew_report"] = _skew_report_sql()


# ---------------------------------------------------------------------------
# HLL register union: merge(base, delta) == recompute, for sketches
# ---------------------------------------------------------------------------
HLL_SPLIT = "2024-01-20"


def _hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, reg, m): observed HLL registers for one partition of
    the events table — the mergeable sketch state."""
    mixed = ev.selectExpr("event_type", f"user_id % {_M32} AS h0")
    for stage in _hll_mix_stages("spark"):
        mixed = mixed.selectExpr("*", stage)
    return (
        mixed.selectExpr("event_type", f"h{len(_HLL_MIX)} AS h")
        .selectExpr("event_type",
                    f"CAST(h % {HLL_REGS} AS BIGINT) AS reg",
                    f"CAST(h DIV {HLL_REGS} AS BIGINT) AS w")
        .selectExpr("event_type", "reg",
                    f"CASE WHEN w = 0 THEN {HLL_W_BITS + 1} "
                    f"ELSE {HLL_W_BITS + 1} - length(bin(w)) END AS rho")
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m"))
    )


def hll_register_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch counterpart of ivm_hourly_refresh: build HLL registers
    for the base partition (ts < split) and the delta partition
    separately, merge them with register-wise MAX, and emit the merged
    register table. The oracle computes the registers over ALL events in
    one pass — the driver hash-match is the proof that sketch merge ==
    sketch recompute, which is what lets a 100 TB deployment keep daily
    register tables and union them at query time instead of rescanning
    history (COUNT DISTINCT itself cannot merge; this is the mergeable
    replacement ivm_hourly_refresh's docstring points at).

    Scale shape: each side is one map-side-combinable MAX over at most
    64 registers per event type; the merge is a full-outer join on the
    tiny (type, reg) key space."""
    ev = t(spark, sf_dir, "events")
    base = _hll_registers(ev.filter(F.col("ts") < F.lit(HLL_SPLIT)))
    delta = _hll_registers(ev.filter(F.col("ts") >= F.lit(HLL_SPLIT)))
    return (
        base.alias("b").join(delta.alias("d"), ["event_type", "reg"],
                             "full_outer")
        .selectExpr("event_type", "reg",
                    "greatest(coalesce(b.m, 0), coalesce(d.m, 0)) AS m")
        .orderBy("event_type", "reg")
    )


HLL_UNION_SQL = f"""
WITH m0 AS (SELECT event_type, user_id % {_M32} AS h0 FROM events),
{_HLL_MIX_CTES},
rho AS (
  SELECT event_type,
         CAST(h % {HLL_REGS} AS BIGINT) AS reg,
         CAST(h // {HLL_REGS} AS BIGINT) AS w
  FROM (SELECT event_type, h{len(_HLL_MIX)} AS h FROM m{len(_HLL_MIX)})),
r2 AS (
  SELECT event_type, reg,
         CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
              ELSE {HLL_W_BITS + 1} - length(bin(w)) END AS rho
  FROM rho)
SELECT event_type, reg, MAX(rho) AS m
FROM r2
GROUP BY event_type, reg
ORDER BY event_type, reg
"""

QUERIES["hll_register_union"] = hll_register_union
ORACLES["hll_register_union"] = HLL_UNION_SQL


# --- mergeable histogram quantiles --------------------------------------------
# Fixed-width bucket histogram per group -> p50/p90/p99 from the
# cumulative walk. Unlike percentile_cont/percentile_approx (whose
# interpolation/sketch internals are engine-specific), every step here is
# integer arithmetic on bucket counts, so the estimates are bit-identical
# cross-engine AND the sketch is mergeable by construction: bucket counts
# add across partitions, shards, or days — the property a 100 TB profiler
# needs (combine per-file histograms without re-reading data). Estimate =
# bucket upper bound: error is bounded by HQ_BUCKET_WIDTH, the usual
# histogram-quantile contract. rank_p = ceil(p * n) computed as
# (a*n + b - 1) div b — no floats anywhere.
HQ_BUCKET_WIDTH = 1024


def quantiles_from_bucket_counts(counts: DataFrame,
                                 group: str = "flag",
                                 bucket_width: int = HQ_BUCKET_WIDTH
                                 ) -> DataFrame:
    """(group, bucket, cnt) histogram -> per-group p50/p90/p99 estimates.
    Factored out so the batch query and the streaming incremental job
    (streaming/jobs.stream_histogram_quantiles, which ACCUMULATES bucket
    counts across microbatches) extract quantiles from the same code —
    the merge-then-extract property is what makes the sketch a sketch."""
    wcum = (Window.partitionBy(group).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = (counts
           .withColumn("cum", F.sum("cnt").over(wcum))
           .withColumn("n", F.sum("cnt").over(Window.partitionBy(group))))
    upper = (F.col("bucket") + 1) * bucket_width

    def est(a: int, b: int, alias: str):
        # integer ceil division (a*n + b-1) div b — `div`, not `/`:
        # Spark's `/` on integers is DOUBLE division, which loses
        # exactness once a*n exceeds 2^53 (the 100 TB row-count regime
        # this sketch targets); the oracle uses true integer //
        rank = F.expr(f"({a} * n + {b - 1}) div {b}")
        return F.min(F.when(F.col("cum") >= rank, upper)).alias(alias)

    return (
        cum.groupBy(group)
        .agg(F.max("n").alias("n_rows"),
             est(1, 2, "p50_est"),
             est(9, 10, "p90_est"),
             est(99, 100, "p99_est"))
        .orderBy(group)
    )


def histogram_quantiles_by_flag(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-l_returnflag p50/p90/p99 of l_extendedprice via a mergeable
    fixed-width histogram (see module note above).

    Scale shape: one map-side-combinable groupBy over the bounded
    (flag, bucket) key space (~100 buckets per flag at any corpus size);
    the cumulative walk and rank extraction run over those bucket rows,
    never the raw data."""
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag",
        f"CAST(floor(CAST(l_extendedprice AS DOUBLE) / {HQ_BUCKET_WIDTH})"
        " AS BIGINT) AS bucket")
    counts = li.groupBy("flag", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"))
    return quantiles_from_bucket_counts(counts)


HISTOGRAM_QUANTILES_SQL = f"""
WITH b AS (
  SELECT l_returnflag AS flag,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) / {HQ_BUCKET_WIDTH})
              AS BIGINT) AS bucket
  FROM lineitem),
counts AS (SELECT flag, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM b GROUP BY flag, bucket),
cum AS (
  SELECT flag, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cum,
         SUM(cnt) OVER (PARTITION BY flag) AS n
  FROM counts)
SELECT flag,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2
                THEN (bucket + 1) * {HQ_BUCKET_WIDTH} END) AS BIGINT)
       AS p50_est,
       CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10
                THEN (bucket + 1) * {HQ_BUCKET_WIDTH} END) AS BIGINT)
       AS p90_est,
       CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100
                THEN (bucket + 1) * {HQ_BUCKET_WIDTH} END) AS BIGINT)
       AS p99_est
FROM cum
GROUP BY flag
ORDER BY flag
"""

QUERIES["histogram_quantiles_by_flag"] = histogram_quantiles_by_flag
ORACLES["histogram_quantiles_by_flag"] = HISTOGRAM_QUANTILES_SQL


# --- embedding drift: pairwise centroid similarity between labels -------------
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the drift
    report a curator reads to spot redundant or mislabeled sources (two
    labels whose centroids are near-parallel carry the same material; a
    centroid far from every other flags an encoder or labeling shift).

    Exactness discipline: the centroids come from ivf_centroids' ORDER-
    FREE split-integer mean (deterministic doubles), and the per-pair
    dot/norm folds run in ASCENDING dim order over assembled arrays —
    a groupBy SUM of double products would be partition-order-dependent
    and break the cross-engine hash. Scale shape: the pair space is
    labels^2 (domain-bounded, tiny); the only corpus-sized work is the
    centroid aggregation itself, already one shuffle."""
    cent = ivf_centroids(spark, sf_dir)
    vecs = (cent.groupBy("label")
            .agg(F.expr("transform(array_sort(collect_list("
                        "struct(dim, centroid_val))), s -> s.centroid_val)")
                 .alias("c"),
                 F.max("n_vectors").alias("n")))
    a, b = vecs.alias("a"), vecs.alias("b")
    fold = ("aggregate(zip_with({x}, {y}, (p, q) -> p * q), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .selectExpr(
            "a.label AS label_a", "b.label AS label_b",
            "a.n AS n_a", "b.n AS n_b",
            # nullif: an exactly-zero centroid (degenerate, but possible
            # under cancellation) reads NULL cosine in BOTH engines
            # instead of engine-specific inf/NaN division behavior
            f"{fold.format(x='a.c', y='b.c')}"
            f" / nullif(sqrt({fold.format(x='a.c', y='a.c')})"
            f" * sqrt({fold.format(x='b.c', y='b.c')}),"
            " CAST(0 AS DOUBLE)) AS centroid_cosine")
        .orderBy("label_a", "label_b")
    )


def _centroid_sim_oracle() -> str:
    fold = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            "list_transform(range(1, len({x}) + 1), "
            "i -> {x}[i] * {y}[i])), (acc, v) -> acc + v)")
    return f"""
WITH cent AS ({IVF_CENTROIDS_SQL.replace(';', '')}),
vecs AS (
  SELECT label, list(centroid_val ORDER BY dim) AS c,
         MAX(n_vectors) AS n
  FROM cent GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       {fold.format(x='a.c', y='b.c')}
         / NULLIF(sqrt({fold.format(x='a.c', y='a.c')})
            * sqrt({fold.format(x='b.c', y='b.c')}),
            CAST(0 AS DOUBLE)) AS centroid_cosine
FROM vecs a JOIN vecs b ON a.label < b.label
ORDER BY label_a, label_b
"""


QUERIES["label_centroid_similarity"] = label_centroid_similarity
ORACLES["label_centroid_similarity"] = _centroid_sim_oracle()
