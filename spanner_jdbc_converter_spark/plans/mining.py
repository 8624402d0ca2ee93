"""Data-mining corpus: clustering, TF-IDF, anomaly detection, histogram
layout, and blocked record linkage (SURVEY.md §2.11 extension surface).

These close out the LLM-pipeline toolbox around the dedup/similarity/
text operators: semantic clustering over embeddings (cluster-balanced
sampling, semantic near-dedup), TF-IDF term scoring (distinctive-term
extraction on top of text_vocab_df's document frequencies), z-score
outlier detection (data-quality triage on event streams), bucketed value
histograms (layout/partition planning), and fuzzy record linkage
(entity resolution over a blocked distinct-value domain).

Float parity follows the corpus conventions (plans/extensions.py):
exact-integer divisions stay unrounded, accumulated doubles route
through DECIMAL sums, libm outputs (ln) are rounded to 6 digits at the
narrowest point before further arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark import session
from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.operators import clustering as cl
from spanner_jdbc_converter_spark.operators import text as tx
from spanner_jdbc_converter_spark.plans.extensions import _TOKS_SQL, _cos_sql
from spanner_jdbc_converter_spark.plans.registry import (
    materialized,
    register,
    session_store,
)

# ---------------------------------------------------------------------------
# k-means over embeddings — oracle unrolls the fixed Lloyd iterations.
# ---------------------------------------------------------------------------

#: squared-L2 between a row's embedding and a centroid list (DuckDB side);
#: same left-to-right double fold as operators.clustering._sq_dist.
_SQ_SQL = (
    "list_reduce(list_transform(range(1, len(e.embedding) + 1), "
    "i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])"
    " * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), (a, b) -> a + b)"
)


def _assign_cte(cent_cte: str) -> str:
    """One nearest-centroid assignment round (ties → smaller cluster)."""
    return f"""
    SELECT vec_id, cluster, sq FROM (
      SELECT vec_id, cluster, sq,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sq, cluster) AS rn
      FROM (
        SELECT e.vec_id AS vec_id, c.cluster AS cluster, {_SQ_SQL} AS sq
        FROM embeddings e CROSS JOIN {cent_cte} c
      )
    ) WHERE rn = 1
    """


def _update_cte(asg_cte: str) -> str:
    """Per-dimension DECIMAL-sum mean of each cluster's members.

    Parallel ``unnest``s zip row-wise in DuckDB (a lateral ``range``
    table function is not supported), giving the same (pos, val) frame
    as Spark's ``posexplode``."""
    return f"""
    SELECT cluster, list(cval ORDER BY pos) AS cvec FROM (
      SELECT cluster, pos,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
      FROM (
        SELECT a.cluster AS cluster,
               unnest(range(1, len(e.embedding) + 1)) AS pos,
               unnest(list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS val
        FROM {asg_cte} a JOIN embeddings e USING (vec_id)
      )
      GROUP BY cluster, pos
    ) GROUP BY cluster
    """


def _kmeans_ctes(k: int, iters: int) -> tuple[list[str], str]:
    """The unrolled fixed-iteration k-means as CTE clauses; returns the
    clause list and the name of the final assignment CTE."""
    parts = [
        f"""c0 AS (
      SELECT CAST(vec_id AS BIGINT) AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < {k}
    )"""
    ]
    prev_cent = "c0"
    for it in range(1, iters + 1):
        parts.append(f"a{it} AS ({_assign_cte(prev_cent)})")
        if it < iters:
            parts.append(f"c{it} AS ({_update_cte(f'a{it}')})")
            prev_cent = f"c{it}"
    return parts, f"a{iters}"


def _kmeans_oracle() -> str:
    parts, final = _kmeans_ctes(cl.KMEANS_K, cl.KMEANS_ITERS)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, cluster, ROUND(sq, 6) AS sq_dist FROM {final}"
    )


@register("cluster_kmeans_embeddings", oracle=_kmeans_oracle())
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-iteration k-means over the embedding column —
    the semantic-clustering path next to the lexical dedup family.
    Seeds are the K smallest vec_ids (no RNG), 2 Lloyd rounds, so the
    oracle unrolls the identical computation in SQL.

    Scale: K centroid rows broadcast to every assignment; per-point
    arg-min collapses map-side (one 16-byte row per point crosses the
    wire); the centroid update's (cluster, dim) aggregate combines
    map-side to K×dims rows.  See operators/clustering.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.kmeans_fixed(emb)


# ---------------------------------------------------------------------------
# SemDedup — embedding-cluster dedup (semantic near-duplicates).
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle() -> str:
    parts, final = _kmeans_ctes(cl.SEMDEDUP_K, cl.KMEANS_ITERS)
    cos = _cos_sql("a.embedding", "b.embedding")
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    asg AS (SELECT vec_id, cluster FROM {final}),
    dup AS (
      SELECT y.vec_id AS vec_id, MIN(x.vec_id) AS dup_of
      FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE ROUND({cos}, 6) >= {cl.SEMDEDUP_THRESHOLD}
      GROUP BY y.vec_id)
    SELECT g.vec_id, g.cluster, d.dup_of, d.dup_of IS NULL AS is_kept
    FROM asg g LEFT JOIN dup d USING (vec_id)
    """
    )


@register("dedup_semantic_clusters", oracle=_semantic_dedup_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic dedup: k-means-cluster the embeddings
    (K=SEMDEDUP_K, deterministic seeds, fixed Lloyd rounds), prune cosine-near
    pairs within each cluster keeping the min id.  Catches semantic
    near-duplicates that share NO n-grams — invisible to the whole
    lexical dedup family.

    Scale: the cluster plays the LSH-bucket role — pair work Σ|c|²,
    one groupBy(cluster) shuffle, numpy bucket-local scoring, no pair
    join.  The oracle unrolls the identical k-means and replays the
    within-cluster pruning in SQL, so even the cluster-approximate
    result is hash-checked value-for-value.  See
    operators/clustering.py::semantic_dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.semantic_dedup(emb)


# ---------------------------------------------------------------------------
# TF-IDF distinctive terms — builds on text_vocab_df's df counts.
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS token FROM tk)
      GROUP BY doc_id, token
    ),
    dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (
      SELECT doc_id, token, tf, df,
             ROUND(tf * ROUND(ln((n_docs + 1.0) / (df + 1.0)), 6), 6) AS score
      FROM tf JOIN dfc USING (token) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, token, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token) AS rk
      FROM sc
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score, CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by smoothed TF-IDF
    (tf · ln((N+1)/(df+1))) — keyword extraction / topic tagging over
    the same tokenizer as the rest of the text family.

    Parity: ln() is libm (not correctly-rounded IEEE), so the idf is
    rounded to 6 digits FIRST — idf has only |distinct df| values, ~the
    vocabulary size, collapsing any last-ulp engine drift before the
    exact int multiply.  Scale: token explode → (doc, token) groupBy
    combines map-side; df frame is vocab-sized → broadcast join; the
    corpus-count scalar is a one-row broadcast; final top-3 window
    partitions on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    from spanner_jdbc_converter_spark.operators import text as tx

    tf = (
        d.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), 6
    )
    sc = (
        tf.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "df", "score", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# z-score outliers — per-group moments via DECIMAL sums, broadcast back.
# ---------------------------------------------------------------------------


@register(
    "events_zscore_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mean,
             CAST(SUM(CAST(value * value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m2
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type AS event_type, value,
           ROUND((value - mean) / sqrt(m2 - mean * mean), 6) AS zscore
    FROM events e JOIN s USING (event_type)
    WHERE sqrt(m2 - mean * mean) > 0
      AND ABS((value - mean) / sqrt(m2 - mean * mean)) > 2
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2) — the data-quality
    triage pass a training pipeline runs over ingested streams.

    Parity: mean and the second moment route through DECIMAL(28,12)
    sums (order-independent; value ≤ ~500 so value² fits the 16 integer
    digits), ONE double division each, and sqrt is IEEE
    correctly-rounded — every engine computes the identical double.
    Scale: one map-side-combined groupBy over the stream produces a
    |event_type|-row stats frame, broadcast back; no window over the
    data, no second shuffle."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dec = "decimal(28,12)"
    s = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast(dec)).cast("double") / F.count(F.lit(1))
        ).alias("mean"),
        (
            F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    joined = ev.join(F.broadcast(s), "event_type")
    std = F.sqrt(F.col("m2") - F.col("mean") * F.col("mean"))
    z = (F.col("value") - F.col("mean")) / std
    return (
        joined.filter((std > 0) & (F.abs(z) > 2))
        .select("event_id", "event_type", "value", F.round(z, 6).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Bucketed value histogram — portable width_bucket math.
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_N = 0.0, 500000.0, 20
_HIST_W = (_HIST_HI - _HIST_LO) / _HIST_N


@register(
    "agg_value_histogram",
    oracle=f"""
    SELECT LEAST(CAST(FLOOR(o_totalprice / {_HIST_W!r}) AS BIGINT) + 1, {_HIST_N}) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values (20 × 25k buckets) — the
    distribution profile that drives range-partition boundary and
    skew decisions (the engine's own W5 delete planner samples
    quantiles for the same reason, delete.py:91).

    Bucket math is written portably (floor-divide + LEAST clamp) instead
    of width_bucket — DuckDB 1.0 lacks the function, and this form is
    the identical double arithmetic on both engines.  Scale: single
    map-side-combined groupBy into ≤ 20 rows; min/max/count are exact,
    the sum routes through DECIMAL."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_HIST_W)).cast("long") + 1,
        F.lit(_HIST_N).cast("long"),
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy record linkage — entity resolution without a cross join.
# ---------------------------------------------------------------------------


@register(
    "join_fuzzy_blocked_names",
    oracle="""
    WITH n AS (
      SELECT p_name, COUNT(*) AS n_parts,
             string_split(p_name, ' ')[2] AS noun
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.noun AS block_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def join_fuzzy_blocked_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage over part names: pairs within the same
    blocking key (the name's noun token) at Levenshtein distance ≤ 3,
    with per-name support counts — the classic dedupe/entity-resolution
    shape (block → compare → link).

    Scale: the expensive comparator runs over the DISTINCT-name domain
    (vocabulary-sized, independent of row count — the groupBy collapses
    the fact table first), and blocking turns the self-join into an
    equi-join on the block key: candidate pairs are per-block, never a
    corpus cross join.  Levenshtein is exact integer DP on both
    engines."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    names = names.select(
        "p_name", "n_parts", F.split(F.col("p_name"), " ").getItem(1).alias("noun")
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.noun").alias("block_key"),
            dist.cast("long").alias("edit_dist"),
            F.col("a.n_parts").cast("long").alias("n_parts_a"),
            F.col("b.n_parts").cast("long").alias("n_parts_b"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion — the product-analytics staple over the event stream.
# ---------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.signup_us
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_signup_users,
           CAST(SUM(CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST(SUM(CASE WHEN purchase_us - signup_us <= 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted_1h,
           ROUND(CAST(SUM(CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS conversion_rate
    FROM s LEFT JOIN p USING (user_id)
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup → purchase funnel: per user, the first signup and the first
    purchase at-or-after it; reported as total signup users, converted
    users, 1-hour conversions, and the conversion rate.

    Times compare in epoch-µs (the corpus ts-parity convention).  Scale:
    two filtered map-side-combined aggregates keyed by user_id land
    ALREADY co-partitioned for the left join — one exchange each, no
    window over raw events; the final frame is a one-row reduce."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    j = s.join(p, "user_id", "left")
    converted = F.when(F.col("purchase_us").isNotNull(), 1).otherwise(0)
    fast = F.when(
        F.col("purchase_us") - F.col("signup_us") <= 3_600_000_000, 1
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.sum(converted).cast("long").alias("n_converted"),
        F.sum(fast).cast("long").alias("n_converted_1h"),
        F.round(
            F.sum(converted).cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )


# ---------------------------------------------------------------------------
# Retention cohorts — first-seen-day cohort × day-offset activity matrix.
# ---------------------------------------------------------------------------


@register(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM a WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: users cohorted by first-seen day; for offsets
    0–7, how many of each cohort were active that many days later.
    Day granularity makes the ns→µs parquet quirk irrelevant (dates
    agree on both engines).

    Scale: first-seen is one keyed aggregate; the cohort map rides a
    user_id equi-join back onto events (co-partitioned with the
    aggregate's exchange); the distinct collapses map-side before the
    final small groupBy.  The matrix itself is |days| × 8 rows —
    metadata-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.col("ts")).alias("day")
    )
    f = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return a.groupBy(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# Winsorized statistics — robust per-group means after exact-quantile clips.
# ---------------------------------------------------------------------------


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority AS o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(q.lo, 4) AS p05, ROUND(q.hi, 4) AS p95,
           CAST(ROUND(SUM(CAST(LEAST(GREATEST(o_totalprice, q.lo), q.hi)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS winsorized_total,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(o_totalprice, q.lo), q.hi)
                               AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
             AS winsorized_mean
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY o.o_orderpriority, q.lo, q.hi
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order-value statistics per priority: clip at the exact
    interpolated p05/p95 (same definition on both engines — see
    agg_median_percentiles), then a DECIMAL-routed mean of the clipped
    values — the robust-mean profile used to de-weight outliers before
    mixture decisions.

    Scale: the quantile frame is |priorities| rows → broadcast back;
    the clip is a per-row expression; one map-side-combined groupBy.
    For 100 TB swap the exact quantiles for approx_percentile — kept
    exact for the oracle gate."""
    o = load_table(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    dec_sum = F.sum(clipped.cast("decimal(18,4)"))
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(dec_sum, 2).cast("double").alias("winsorized_total"),
            F.round(dec_sum.cast("double") / F.count(F.lit(1)), 4).alias(
                "winsorized_mean"
            ),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("lo"), 4).alias("p05"),
            F.round(F.col("hi"), 4).alias("p95"),
            "winsorized_total",
            "winsorized_mean",
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch — portable, oracle-exact (operators/sketches).
# ---------------------------------------------------------------------------

from spanner_jdbc_converter_spark.operators import sketches as sk  # noqa: E402


@register(
    "agg_hll_distinct_custkeys",
    oracle=f"""
    WITH approx AS ({sk.hll_estimate_sql("orders", ["o_orderpriority"], "o_custkey")}),
    exact AS (
      SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, exact_distinct, approx_distinct
    FROM exact JOIN approx USING (o_orderpriority)
    """,
)
def agg_hll_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority, twice: the exact
    COUNT(DISTINCT) and a portable HyperLogLog estimate whose md5-derived
    sketch is bit-reproduced by the oracle (operators/sketches.py) —
    Spark's own approx_count_distinct could only get a rows-only check.

    Scale: the sketch is THE point — per (group, bucket) max-rank state
    is ≤ 64 rows per group and merges map-side, where COUNT(DISTINCT)
    shuffles every distinct (group, key) pair.  The integer-arithmetic
    Σ2^{{-ρ}} makes the estimate independent of partitioning."""
    o = load_table(spark, sf_dir, "orders")
    approx = sk.hll_estimate(o, ["o_orderpriority"], F.col("o_custkey"))
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct(F.col("o_custkey")).alias("exact_distinct")
    )
    return exact.join(approx, "o_orderpriority")


# ---------------------------------------------------------------------------
# Bigram language-model statistics — counts + conditional probabilities.
# ---------------------------------------------------------------------------


@register(
    "text_bigram_stats",
    oracle=f"""
    WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
        AS bigram
      FROM tk
    ),
    c2t AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram),
    c1t AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w
    ),
    j AS (
      SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
             c2, c1
      FROM c2t JOIN c1t ON string_split(bigram, ' ')[1] = w
    ),
    r AS (
      SELECT w1, w2, c2, c1,
             ROW_NUMBER() OVER (ORDER BY c2 DESC, w1, w2) AS rk
      FROM j
    )
    SELECT w1, w2, CAST(c2 AS BIGINT) AS c2, CAST(c1 AS BIGINT) AS c1,
           c2 / CAST(c1 AS DOUBLE) AS cond_prob, CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 20
    """,
)
def text_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams with conditional probability P(w2|w1) =
    c(w1 w2)/c(w1) — the n-gram LM statistics a data pipeline collects
    for perplexity-ish filtering and corpus comparison.

    Parity: the probability is ONE division of two exact integers —
    IEEE-deterministic, left unrounded (corpus convention).  Scale:
    bigrams ride the staged tokenizer (one explode); both count frames
    combine map-side and are vocabulary-sized; the unigram join is a
    broadcast; the global top-20 window sorts the bigram vocab, never
    the corpus."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents").select(
        tx.tokens("text").alias("__toks")
    )
    c2 = (
        d.select(
            F.explode(tx.word_ngrams_from_tokens(F.col("__toks"), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        d.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    j = (
        c2.select(
            F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
            F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
            "c2",
        )
        .join(F.broadcast(c1), F.col("w1") == F.col("w"))
        .drop("w")
    )
    w = Window.orderBy(F.desc("c2"), F.asc("w1"), F.asc("w2"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "w1",
            "w2",
            "c2",
            "c1",
            (F.col("c2") / F.col("c1").cast("double")).alias("cond_prob"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling — deterministic Bernoulli keyed on doc_id.
# ---------------------------------------------------------------------------

from spanner_jdbc_converter_spark.functions.hashing import (  # noqa: E402
    md5_long,
    md5_long_sql,
)
from spanner_jdbc_converter_spark.plans.extensions import (  # noqa: E402
    _STOPWORDS_SQL,
)

#: 2^60 — the md5_long value range (HASH_BITS); exact in a double.
_U_DENOM = float(1 << 60)


@register(
    "select_quality_weighted_sample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(coalesce(list_sum(list_transform({_TOKS_SQL},
                  x -> CASE WHEN x IN ({_STOPWORDS_SQL}) THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS n_stop
      FROM documents),
    q AS (
      SELECT doc_id, lang,
             ROUND(
               0.4 * (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
             + 0.4 * least((CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 4, 1.0)
             + 0.2 * (1 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)),
             6) AS quality,
             {md5_long_sql("concat('qws:', CAST(doc_id AS VARCHAR))")} / {_U_DENOM!r} AS u
      FROM f)
    SELECT doc_id, lang, quality, ROUND(u, 6) AS u
    FROM q WHERE u < quality
    """,
)
def select_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli sampling: each document is kept with
    probability equal to its quality score, decided by a DETERMINISTIC
    per-document uniform (md5 of a tagged doc_id, scaled to [0,1)) —
    reproducible across runs, engines, and partitionings, unlike
    rand()-based sampling.

    The keep-decision is embarrassingly parallel (zero shuffles, zero
    joins): score and uniform are per-row expressions over the staged
    token array.  This is the selection pattern that turns the quality
    scores into an actual corpus: higher-quality documents survive at
    higher rates, and re-running the pipeline yields the identical
    sample."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", tx.tokens("text").alias("__toks")
    )
    quality = tx.quality_score_from_tokens("text", F.col("__toks"))
    u = md5_long(
        F.concat(F.lit("qws:"), F.col("doc_id").cast("string"))
    ) / F.lit(_U_DENOM)
    return (
        d.select(
            "doc_id",
            "lang",
            quality.alias("quality"),
            u.alias("__u"),
        )
        .filter(F.col("__u") < F.col("quality"))
        .select("doc_id", "lang", "quality", F.round("__u", 6).alias("u"))
    )


# ---------------------------------------------------------------------------
# Z-order layout cells — clustering quality you can SEE in the cell stats.
# ---------------------------------------------------------------------------

from spanner_jdbc_converter_spark.operators import layout as lo  # noqa: E402


@register(
    "layout_zorder_cells",
    oracle=f"""
    WITH z AS (
      SELECT o_orderkey,
             {lo.morton_interleave_sql("o_custkey % 256",
                                       "CAST(FLOOR(o_totalprice / 2000.0) AS BIGINT) % 256")}
               AS zcode,
             o_custkey % 256 AS cust_bucket,
             CAST(FLOOR(o_totalprice / 2000.0) AS BIGINT) % 256 AS price_bucket
      FROM orders
    )
    SELECT zcode // 64 AS zcell,
           COUNT(*) AS n_orders,
           MIN(cust_bucket) AS min_cust, MAX(cust_bucket) AS max_cust,
           MIN(price_bucket) AS min_price, MAX(price_bucket) AS max_price
    FROM z GROUP BY zcell
    """,
)
def layout_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code layout cells over (customer, price-bucket): per
    coarse Z-cell, the row count and BOTH dimensions' min/max — the
    footer stats a Z-ordered parquet file would carry.  Tight ranges on
    both columns in every cell is exactly what makes two-predicate scan
    pruning work; a single-column sort shows the full range on the other
    column (asserted comparatively in tests/test_operators.py).

    The code is pure shift/mask integer arithmetic inside whole-stage
    codegen (operators/layout.py); the aggregate is one map-side-combined
    groupBy into ≤ 1024 cells."""
    o = load_table(spark, sf_dir, "orders")
    cust_b = (F.col("o_custkey") % 256).cast("long")
    price_b = F.floor(F.col("o_totalprice") / 2000.0).cast("long") % 256
    z = o.select(
        "o_orderkey",
        lo.morton_interleave(cust_b, price_b).alias("zcode"),
        cust_b.alias("cust_bucket"),
        price_b.alias("price_bucket"),
    )
    return z.groupBy(F.expr("zcode DIV 64").alias("zcell")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cust_bucket").alias("min_cust"),
        F.max("cust_bucket").alias("max_cust"),
        F.min("price_bucket").alias("min_price"),
        F.max("price_bucket").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — the last step before tokenization.
# ---------------------------------------------------------------------------


@register(
    "select_train_val_test_split",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END
               AS split
      FROM (
        SELECT lang,
               {md5_long_sql("concat('split:', CAST(doc_id AS VARCHAR))")} / {_U_DENOM!r}
                 AS u
        FROM documents
      )
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS share
    FROM s GROUP BY lang, split
    """,
)
def select_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: the assignment hashes
    a tagged doc_id (never rand()), so every rerun, engine, and
    partitioning reproduces the identical membership — the property that
    keeps eval sets leak-free across pipeline versions.  Reported as
    per-language split counts and shares.

    Scale: the split decision is a per-row expression (zero shuffle);
    the report aggregates to |langs|×3 rows with map-side combine; the
    share window runs over that metadata-sized frame."""
    d = load_table(spark, sf_dir, "documents")
    u = md5_long(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) / F.lit(_U_DENOM)
    split = (
        F.when(u < 0.8, F.lit("train")).when(u < 0.9, F.lit("val")).otherwise(F.lit("test"))
    )
    per = d.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "split",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("share"),
    )


@register(
    "text_token_spectrum",
    oracle=f"""
    WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),
    c AS (SELECT w, COUNT(*) AS cnt
          FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w)
    SELECT CAST(cnt AS BIGINT) AS occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_token_types
    FROM c GROUP BY cnt
    """,
)
def text_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency token spectrum: how many distinct token
    types occur exactly k times — the corpus-statistics curve behind
    Good-Turing smoothing, vocabulary-growth estimates, and boilerplate
    detection (a fat high-k tail = templated text).  Exact integers
    end-to-end.

    Scale: two hash aggregations (token counts, then count-of-counts);
    the second input is vocabulary-sized and the output is the distinct
    count values — metadata-sized.  Both aggs combine map-side; nothing
    sorts or windows globally."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tx.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("n_token_types")
    ).select(F.col("cnt").cast("long").alias("occurrences"), "n_token_types")


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),
    c AS (SELECT w, COUNT(*) AS cnt
          FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
    r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS rk FROM c),
    xy AS (SELECT CAST(ROUND(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
           FROM r),
    s AS (SELECT COUNT(*) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) AS DOUBLE) AS sxx
          FROM xy)
    SELECT CAST(n AS BIGINT) AS n_token_types,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS log_intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus: OLS slope of ln(frequency) on
    ln(rank) over the full vocabulary — natural text sits near −1;
    strong deviation flags templated/synthetic corpora (the "does this
    source look like language" screen).

    Parity: ln outputs round to 6 at their narrowest point, Σx/Σy/Σxy/
    Σx² accumulate in exact DECIMAL (order-independent), the closed-form
    slope/intercept run once in IEEE double with the same tree on both
    engines, rounded to 6.  Scale: the global rank over the VOCABULARY
    (not the corpus) uses the banded two-phase pattern — band = cnt, the
    per-band offsets come from a window over the metadata-sized
    count-histogram, and row_number partitions by cnt — so no stage
    windows the vocabulary in one task; the five sums reduce to ONE row
    with map-side combine."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tx.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # banded global rank: offsets per cnt from the metadata-sized
    # histogram, row_number within each cnt partition (ordered by token)
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy(F.desc("cnt")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long")
    ).select("cnt", "__off")
    w_in = Window.partitionBy("cnt").orderBy(F.asc("w"))
    ranked = counts.join(F.broadcast(offsets), on="cnt").withColumn(
        "rk", F.col("__off") + F.row_number().over(w_in)
    )
    xy = ranked.select(
        F.round(F.log(F.col("rk").cast("double")), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(18,6)").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_token_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("log_intercept"),
    )


# ---------------------------------------------------------------------------
# BPE merge learning — tokenizer induction, oracle-unrolled per round.
# ---------------------------------------------------------------------------


def _bpe_oracle(rounds: int, segment: bool = False) -> str:
    """Unroll `rounds` BPE rounds: pair counts → arg-max (tie → smallest
    pair) → a recursive-CTE greedy left-to-right merge walk identical to
    the Spark fold (operators/text.py::bpe_merges).  ``segment`` selects
    the APPLY side instead: the per-word symbol frame after all rounds
    (operators/text.py::bpe_segment).

    Every per-round CTE is ``AS MATERIALIZED``: DuckDB inlines plain
    CTEs, and each round's symbol frame feeds TWO consumers (the next
    pair count and the next walk), so inlining doubles the expansion per
    round — ~7x slower per added round, minutes at 6.  Materialization
    makes the unroll linear (sub-second)."""
    parts = [
        f"""w AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w)""",
        "s0 AS MATERIALIZED (SELECT w, cnt, list_transform(range(1, length(w)+1),"
        " i -> w[i:i]) AS syms FROM w)",
    ]
    # The merge entry never reads the last round's folded frame; the
    # segment entry needs every fold applied.
    last_walk = rounds if segment else rounds - 1
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""p{r} AS MATERIALIZED (SELECT syms[i] AS a, syms[i+1] AS b,
        SUM(cnt) AS pcnt
        FROM {prev}, unnest(range(1, len(syms))) AS r(i) GROUP BY 1, 2)"""
        )
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT a, b, a || b AS merged, pcnt FROM p{r}"
            " ORDER BY pcnt DESC, a, b LIMIT 1)"
        )
        if r <= last_walk:
            # LEFT JOIN the 0-or-1-row winner: with merges exhausted the
            # walk appends every symbol unchanged instead of emptying —
            # the same carry-through as the Spark fold's left join.
            parts.append(
                f"""walk{r}(w, cnt, syms, i, acc) AS (
        SELECT w, cnt, syms, 1, CAST([] AS VARCHAR[]) FROM {prev}
        UNION ALL
        SELECT k.w, k.cnt, k.syms,
               CASE WHEN m.a IS NOT NULL AND k.i < len(k.syms)
                         AND k.syms[k.i] = m.a AND k.syms[k.i+1] = m.b
                    THEN k.i + 2 ELSE k.i + 1 END,
               CASE WHEN m.a IS NOT NULL AND k.i < len(k.syms)
                         AND k.syms[k.i] = m.a AND k.syms[k.i+1] = m.b
                    THEN list_append(k.acc, m.merged)
                    ELSE list_append(k.acc, k.syms[k.i]) END
        FROM walk{r} k LEFT JOIN m{r} m ON true WHERE k.i <= len(k.syms))"""
            )
            parts.append(
                f"s{r} AS MATERIALIZED (SELECT w, cnt, acc AS syms FROM walk{r}"
                " WHERE i = len(syms) + 1)"
            )
    if segment:
        sel = (
            "SELECT w, cnt, CAST(len(syms) AS BIGINT) AS n_pieces,"
            f" array_to_string(syms, ' ') AS segmentation FROM s{rounds}"
        )
    else:
        sel = "\nUNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS rank, a AS left_sym, b AS right_sym,"
            f" merged, CAST(pcnt AS BIGINT) AS pair_count FROM m{r}"
            for r in range(1, rounds + 1)
        )
    return "WITH RECURSIVE\n" + ",\n".join(parts) + "\n" + sel


#: The one BPE learn loop: the merge-table and segmentation entries
#: consume the same checkpointed round stages, so the loop runs once.
@session_store("mining._BPE_STORE")
def _bpe_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    d = load_table(spark, sf_dir, "documents")
    return materialized(*tx.bpe_learn(d))


@register("text_bpe_merges", oracle=_bpe_oracle(tx.BPE_MERGE_ROUNDS))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first BPE merge rules (tokenizer induction):
    6 fixed rounds of frequency-weighted pair counting, deterministic
    arg-max, and greedy left-to-right merge application — the algorithm
    behind every production subword tokenizer, run distributed.

    Scale: after one corpus tokenize pass, every round operates on the
    VOCABULARY frame (distinct words ≪ corpus); pair counts combine
    map-side, the winning pair broadcasts into an expression-only merge
    fold, and the symbol frame checkpoints between rounds.  The oracle
    unrolls all 6 rounds with a recursive-CTE merge walk performing the
    identical greedy fold, so the learned rules are hash-checked
    value-for-value.  See operators/text.py::bpe_merges."""
    return _bpe_frames(spark, sf_dir)[0]


@register(
    "text_bpe_segment", oracle=_bpe_oracle(tx.BPE_MERGE_ROUNDS, segment=True)
)
def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's APPLY side: every vocabulary word's subword
    segmentation after the 6 learned BPE merges, with corpus frequency
    and piece count — what the trained tokenizer would emit per word.

    Shares the one session-cached learn loop with text_bpe_merges; the
    oracle extends the round unroll with a final recursive-CTE walk so
    every segmentation is hash-checked piece-for-piece.  See
    operators/text.py::bpe_segment."""
    return _bpe_frames(spark, sf_dir)[1]


# ---------------------------------------------------------------------------
# Cross-doc boilerplate span scrubbing — sub-document cleanup.
# ---------------------------------------------------------------------------


def _boiler_oracle(n: int, min_df: int) -> str:
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql

    span = f"array_to_string(t[i:i + {n} - 1], ' ')"
    return f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sp AS (SELECT doc_id, i - 1 AS s, {md5_long_sql("span")} AS h
           FROM (SELECT doc_id, i, {span} AS span
                 FROM tk, unnest(range(1, len(t) - {n} + 2)) AS r(i))),
    el AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sp)
           GROUP BY h HAVING COUNT(*) >= {min_df}),
    st AS (SELECT doc_id, list(s) AS starts FROM sp JOIN el USING (h)
           GROUP BY doc_id),
    j AS (SELECT tk.doc_id, tk.t,
                 list_transform(
                   list_filter(range(1, len(tk.t) + 1),
                     i -> len(list_filter(
                            COALESCE(st.starts, CAST([] AS BIGINT[])),
                            s -> s <= i - 1 AND i - 1 < s + {n})) = 0),
                   i -> tk.t[i]) AS kept
          FROM tk LEFT JOIN st USING (doc_id))
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string of an EMPTY list is NULL in DuckDB; Spark's
           -- concat_ws is '' — coalesce the fully-scrubbed docs
           COALESCE(array_to_string(kept, ' '), '') AS clean_text
    FROM j
    """


@register(
    "text_boilerplate_scrub",
    oracle=_boiler_oracle(tx.BOILER_NGRAM, tx.BOILER_MIN_DF),
)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal (C4/RefinedWeb-style): every word
    covered by a word-4-gram span appearing in >= 3 distinct documents is
    template text — headers, footers, license blurbs — and is scrubbed;
    the surviving words reassemble in order into clean_text.  Catches
    the repeated-passage pollution that whole-doc dedup (different docs)
    and span-pair detection (reporting, not cleaning) leave in place.

    Scale: one shingle-window pass with positions, one span-hash
    groupBy for document frequencies, the (small by definition)
    boilerplate hash set broadcast, per-doc start lists riding the
    shingle frame's id partitioning, and an expression-only indexed
    filter rebuilding the text — no UDFs.  The oracle replays the df
    count, coverage test, and reassembly with list comprehensions.
    See operators/text.py::boilerplate_scrub."""
    d = load_table(spark, sf_dir, "documents")
    return tx.boilerplate_scrub(d)


# ---------------------------------------------------------------------------
# Bigram LM surprisal — corpus-internal perplexity quality filter.
# ---------------------------------------------------------------------------


@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS a
           FROM tk, unnest(range(1, len(t))) AS r(i)),
    cab AS (SELECT bg, a, COUNT(*) AS cab FROM bg GROUP BY bg, a),
    ca AS (SELECT a, SUM(cab) AS ca FROM cab GROUP BY a),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(t) AS w FROM tk)),
    lm AS (SELECT bg,
                  CAST(ROUND(-ln((cab + 1.0) / (ca + v)), 6)
                       AS DECIMAL(18,6)) AS nll
           FROM cab JOIN ca USING (a) CROSS JOIN v),
    per AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(nll) AS s
            FROM bg JOIN lm USING (bg) GROUP BY doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_surprisal
    FROM per
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean surprisal under the corpus's own add-one bigram LM —
    KenLM-style perplexity filtering with no external model artifact:
    high-surprisal docs are noise/templates/wrong-language, very low
    ones are degenerate repetition.  Complements the heuristic quality
    score (length/punct/stopwords) with a statistical signal.

    Parity: exact integer counts, per-bigram −ln rounded to 6 into
    DECIMAL, DECIMAL per-doc sums, final mean rounded at 6 (the zipf
    convention).  Scale: one shingle pass, one grouped LM count joined
    to vocab-sized left counts, one bigram-keyed scoring join — the LM
    is never broadcast or collected.  See
    operators/text.py::bigram_surprisal."""
    d = load_table(spark, sf_dir, "documents")
    return tx.bigram_surprisal(d)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style hard-EM) + fertility by source
# for BOTH tokenizer families.
# ---------------------------------------------------------------------------


def _unigram_oracle(segment: bool = False) -> str:
    """Unroll the unigram-LM hard-EM loop (operators/text.py::
    unigram_lm_learn): seed substring counts → top-K + chars vocab →
    per round, a recursive-CTE greedy-longest segmentation walk
    (boundary-guarded joins replay the UDF's "only try length L with L
    chars left" rule), weighted usage counts, and the next prune.
    ``segment`` selects the APPLY side (w, cnt, n_pieces) instead of
    the model.  Per-round frames are MATERIALIZED (the _bpe_oracle
    lesson — each feeds two consumers)."""
    mp = tx.UNIGRAM_MAX_PIECE
    lens = ", ".join(str(i) for i in range(1, mp + 1))
    parts = [
        f"""uw AS MATERIALIZED (SELECT w, cnt FROM (
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w))""",
        f"""usub AS MATERIALIZED (
      SELECT piece, SUM(cnt) AS c FROM (
        SELECT substr(w, r.i, ll.L) AS piece, cnt
        FROM uw, (SELECT unnest([{lens}]) AS L) ll,
             LATERAL (SELECT unnest(range(1, len(w) - ll.L + 2)) AS i) r
        WHERE len(w) >= ll.L)
      GROUP BY piece)""",
        "uchars AS MATERIALIZED (SELECT piece FROM usub WHERE len(piece) = 1)",
        # NB: inside WITH RECURSIVE, DuckDB 1.0 gives a bare UNION in ANY
        # member CTE union-all semantics — dedup must be an explicit
        # DISTINCT over UNION ALL or the piece set carries duplicates
        # and every join against it forks the greedy walk.
        f"""v0 AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT piece FROM (
          SELECT piece, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
          FROM usub) WHERE rn <= {tx.UNIGRAM_SEED_KEEP}
        UNION ALL SELECT piece FROM uchars))""",
    ]
    targets = list(tx.UNIGRAM_PRUNES)
    n_rounds = len(targets) + 1
    for i in range(1, n_rounds + 1):
        v = f"v{i - 1}"
        joins = "\n      ".join(
            f"LEFT JOIN {v} p{L} ON s.pos + {L} <= len(s.w)"
            f" AND p{L}.piece = substr(s.w, s.pos + 1, {L})"
            for L in range(mp, 0, -1)
        )
        step = " ".join(
            f"WHEN p{L}.piece IS NOT NULL THEN {L}" for L in range(mp, 2 - 1, -1)
        )
        coal = ", ".join(f"p{L}.piece" for L in range(mp, 0, -1))
        parts.append(
            f"""s{i}(w, cnt, pos, seg) AS (
      SELECT w, cnt, 0, CAST([] AS VARCHAR[]) FROM uw
      UNION ALL
      SELECT s.w, s.cnt,
             s.pos + CASE {step} ELSE 1 END,
             list_append(s.seg, COALESCE({coal}))
      FROM s{i} s
      {joins}
      WHERE s.pos < len(s.w))"""
        )
        parts.append(
            f"f{i} AS MATERIALIZED (SELECT w, cnt, seg FROM s{i}"
            " WHERE pos = len(w))"
        )
        parts.append(
            f"""u{i} AS MATERIALIZED (
      SELECT piece, SUM(cnt) AS n_used FROM (
        SELECT cnt, unnest(seg) AS piece FROM f{i}) GROUP BY piece)"""
        )
        if i <= len(targets):
            parts.append(
                f"""v{i} AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT piece FROM (
          SELECT piece, ROW_NUMBER() OVER (ORDER BY n_used DESC, piece) AS rn
          FROM u{i}) WHERE rn <= {targets[i - 1]}
        UNION ALL SELECT piece FROM uchars))"""
            )
    last = n_rounds
    body = ",\n    ".join(parts)
    if segment:
        return f"""WITH RECURSIVE {body}
    SELECT w, cnt, CAST(len(seg) AS BIGINT) AS n_pieces,
           array_to_string(seg, ' ') AS segmentation
    FROM f{last}"""
    return f"""WITH RECURSIVE {body},
    tot AS (SELECT SUM(n_used) AS t FROM u{last})
    SELECT piece, CAST(n_used AS BIGINT) AS n_used,
           ROUND(ln(n_used / t), 6) AS ln_prob
    FROM u{last}, tot"""


#: The unigram-LM model: text_unigram_lm_pieces and
#: text_tokenizer_fertility consume the same learned model, so the EM
#: rounds run once.
@session_store("mining._UNIGRAM_STORE")
def _unigram_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    d = load_table(spark, sf_dir, "documents")
    return materialized(*tx.unigram_lm_learn(d))


@register("text_unigram_lm_pieces", oracle=_unigram_oracle())
def text_unigram_lm_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-learned unigram-LM tokenizer model (VERDICT r12 #6 —
    the second tokenizer family beside BPE): (piece, n_used, ln_prob)
    after fixed-round hard-EM with greedy-longest decoding — seeds =
    top count-weighted substrings + all characters, per-round usage
    prune 512 → 384 → 256, ln_prob = round(ln(n_used/total), 6) on the
    bigram-surprisal ladder.  The oracle unrolls every round with a
    recursive-CTE greedy walk (the k-means CTE discipline), so the
    whole learner is hash-audited.  See
    operators/text.py::unigram_lm_learn."""
    return _unigram_frames(spark, sf_dir)[0]


def _unigram_encode_oracle() -> str:
    useg = _unigram_oracle(segment=True)
    return f"""
    WITH useg AS MATERIALIZED ({useg}),
    tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    occ AS (SELECT doc_id, i AS wpos, t[i] AS w
            FROM tk, unnest(range(1, len(t) + 1)) AS r(i)),
    pieces AS (SELECT occ.doc_id, occ.wpos, j AS pidx, ps[j] AS piece
               FROM (SELECT occ.doc_id, occ.wpos,
                            string_split(useg.segmentation, ' ') AS ps
                     FROM occ JOIN useg USING (w)) occ,
                    unnest(range(1, len(ps) + 1)) AS rr(j))
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY wpos, pidx) - 1 AS BIGINT) AS pos,
           piece
    FROM pieces
    """


@register("text_unigram_encode", oracle=_unigram_encode_oracle())
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the learned unigram-LM tokenizer over every document — the
    (doc_id, pos, piece) stream under the SECOND tokenizer family, the
    apply-side twin of text_bpe_encode so downstream packing/fertility
    comparisons can consume either tokenizer's output stream.  Same
    plan shape as the BPE encode: one corpus tokenize with positions, a
    vocabulary-sized segmentation join (session-cached unigram frames),
    expression-only piece explode, one doc-keyed position window."""
    d = load_table(spark, sf_dir, "documents")
    seg = _unigram_frames(spark, sf_dir)[1]
    occ = d.select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("wpos", "w")
    )
    j = occ.join(
        seg.select("w", F.split("segmentation", " ").alias("ps")), on="w"
    )
    pieces = j.select(
        "doc_id", "wpos", F.posexplode("ps").alias("pidx", "piece")
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "pidx")
    return pieces.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        "piece",
    )


def _fertility_oracle() -> str:
    seg = _bpe_oracle(tx.BPE_MERGE_ROUNDS, segment=True)
    useg = _unigram_oracle(segment=True)
    side = """
    SELECT '{tag}' AS tokenizer, sw.source,
           CAST(SUM(sw.c) AS BIGINT) AS n_tokens,
           CAST(SUM(sw.c * {frame}.n_pieces) AS BIGINT) AS n_pieces,
           ROUND(SUM(sw.c * {frame}.n_pieces) / CAST(SUM(sw.c) AS DOUBLE), 6)
             AS fertility
    FROM sw JOIN {frame} USING (w)
    GROUP BY sw.source"""
    return f"""
    WITH seg AS MATERIALIZED ({seg}),
    useg AS MATERIALIZED ({useg}),
    tk AS (SELECT source, unnest({_TOKS_SQL}) AS w FROM documents),
    sw AS MATERIALIZED (SELECT source, w, COUNT(*) AS c FROM tk
                        GROUP BY source, w)
    {side.format(tag="bpe", frame="seg")}
    UNION ALL {side.format(tag="unigram", frame="useg")}
    """


@register("text_tokenizer_fertility", oracle=_fertility_oracle())
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword pieces per word) by source for BOTH
    learned tokenizer families — corpus BPE and the unigram LM — the
    data-card comparison the second tokenizer exists to inform
    (VERDICT r12 #6): fertility ≈ 1 means the tokenizer fits the
    source; the per-source delta between families is the
    sequence-length/cost trade a training team actually decides on.

    Scale: occurrences aggregate to (source, word) counts FIRST (one
    grouped count with map-side combine, |sources|x|vocab| bounded),
    then join each vocabulary-sized segmentation frame (both
    session-cached) — the corpus token stream is never joined
    row-by-row.  See operators/text.py::bpe_segment /
    unigram_lm_learn."""
    d = load_table(spark, sf_dir, "documents")
    (sw,) = session.stage(
        d.select("source", F.explode(tx.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def side(seg: DataFrame, tag: str) -> DataFrame:
        return (
            sw.join(seg.select("w", "n_pieces"), on="w")
            .groupBy("source")
            .agg(
                F.sum("c").alias("n_tokens"),
                F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"),
                F.round(
                    F.sum(F.col("c") * F.col("n_pieces")).cast("double")
                    / F.sum("c").cast("double"),
                    6,
                ).alias("fertility"),
            )
            .select(
                F.lit(tag).alias("tokenizer"),
                "source",
                "n_tokens",
                "n_pieces",
                "fertility",
            )
        )

    bpe = side(_bpe_frames(spark, sf_dir)[1], "bpe")
    uni = side(_unigram_frames(spark, sf_dir)[1], "unigram")
    return bpe.unionByName(uni)


# ---------------------------------------------------------------------------
# BPE corpus encode — the learned tokenizer applied to every document.
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    seg = _bpe_oracle(tx.BPE_MERGE_ROUNDS, segment=True)
    return f"""
    WITH seg AS MATERIALIZED ({seg}),
    tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    occ AS (SELECT doc_id, i AS wpos, t[i] AS w
            FROM tk, unnest(range(1, len(t) + 1)) AS r(i)),
    pieces AS (SELECT occ.doc_id, occ.wpos, j AS pidx, ps[j] AS piece
               FROM (SELECT occ.doc_id, occ.wpos,
                            string_split(seg.segmentation, ' ') AS ps
                     FROM occ JOIN seg USING (w)) occ,
                    unnest(range(1, len(ps) + 1)) AS rr(j))
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY wpos, pidx) - 1 AS BIGINT) AS pos,
           piece
    FROM pieces
    """


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the corpus-learned BPE tokenizer over every document: the
    (doc_id, pos, piece) subword stream a training pipeline actually
    feeds the model — the piece-level twin of text_vocab_encode's
    word-id stream.

    Scale: the corpus tokenizes once (posexplode keeps word positions);
    the segmentation attaches via a VOCABULARY-sized join (stats-driven
    — never a corpus-sided broadcast decision forced by hand); pieces
    explode expression-only, and the single doc-keyed window assigns
    contiguous positions riding one id-hash exchange.  The oracle nests
    the segment unroll and replays the join + double explode +
    row_number.  See operators/text.py::bpe_segment."""
    d = load_table(spark, sf_dir, "documents")
    seg = _bpe_frames(spark, sf_dir)[1]
    occ = d.select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("wpos", "w")
    )
    j = occ.join(
        seg.select("w", F.split("segmentation", " ").alias("ps")), on="w"
    )
    pieces = j.select(
        "doc_id", "wpos", F.posexplode("ps").alias("pidx", "piece")
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "pidx")
    return pieces.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        "piece",
    )


# ---------------------------------------------------------------------------
# Model-based curation: reference-corpus NB classifier + DSIR resampling.
# ---------------------------------------------------------------------------

_NB_LL = "CAST(ROUND(ln(({c} + 1.0) / ({n} + {v})), 6) AS DECIMAL(18,6))"


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source = '{tx.REF_SOURCE}' AS pos,
                       unnest({_TOKS_SQL}) AS w
                FROM documents),
    wc AS (SELECT w,
                  SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_ref,
                  SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS c_rest
           FROM tk GROUP BY w),
    tot AS (SELECT SUM(c_ref) AS n_ref, SUM(c_rest) AS n_rest,
                   COUNT(*) AS v
            FROM wc),
    lw AS (SELECT w,
                  {_NB_LL.format(c='c_ref', n='n_ref', v='v')}
                - {_NB_LL.format(c='c_rest', n='n_rest', v='v')} AS lw
           FROM wc CROSS JOIN tot),
    pr AS (SELECT CAST(ROUND(ln(CAST(SUM(CASE WHEN source = '{tx.REF_SOURCE}'
                                        THEN 1 ELSE 0 END) AS DOUBLE)), 6)
                       AS DECIMAL(18,6))
                - CAST(ROUND(ln(CAST(SUM(CASE WHEN source = '{tx.REF_SOURCE}'
                                        THEN 0 ELSE 1 END) AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS prior
           FROM documents),
    per AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lw) AS s
            FROM tk JOIN lw USING (w) GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(s + prior AS DOUBLE), 6) AS nb_logodds,
           (s + prior) > 0 AS pred_ref
    FROM per CROSS JOIN pr
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (CCNet/LLaMA-style): a multinomial
    Naive Bayes trained distributed on "reference source vs rest"
    labels scores every doc's bag-of-words log-odds of belonging to the
    trusted corpus — the statistical complement to the heuristic
    text_quality_scores filter.

    Scale: training is ONE vocab-keyed grouped count of the token
    stream; totals/priors are broadcast one-row frames; scoring joins
    occurrences to the vocabulary-sized weight frame on the token key
    (stats-driven side choice) and aggregates per doc.  The oracle
    replays the counts, the round-6 DECIMAL ln ladder, and the
    DECIMAL per-doc sums.  See operators/text.py::nb_reference_classifier."""
    d = load_table(spark, sf_dir, "documents")
    return tx.nb_reference_classifier(d)


_DSIR_LL = (
    f"CAST(ROUND(ln(({{c}} + 1.0) / ({{n}} + {tx.DSIR_BUCKETS})), 6)"
    " AS DECIMAL(18,6))"
)


def _dsir_oracle() -> str:
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql

    h = md5_long_sql("t[i] || ' ' || t[i+1]")
    return f"""
    WITH tk AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
    occ AS (SELECT doc_id, source, {h} % {tx.DSIR_BUCKETS} AS h
            FROM tk, unnest(range(1, len(t))) AS r(i)),
    bc AS (SELECT h,
                  SUM(CASE WHEN source = '{tx.REF_SOURCE}' THEN 1 ELSE 0 END)
                    AS c_tgt,
                  COUNT(*) AS c_raw
           FROM occ GROUP BY h),
    tot AS (SELECT SUM(c_tgt) AS n_tgt, SUM(c_raw) AS n_raw FROM bc),
    lw AS (SELECT h,
                  {_DSIR_LL.format(c='c_tgt', n='n_tgt')}
                - {_DSIR_LL.format(c='c_raw', n='n_raw')} AS lw
           FROM bc CROSS JOIN tot),
    per AS (SELECT doc_id, source, COUNT(*) AS n_bigrams, SUM(lw) AS s
            FROM occ JOIN lw USING (h) GROUP BY doc_id, source),
    ns AS (SELECT source, COUNT(*) AS n FROM per GROUP BY source),
    rk AS (SELECT per.*, ns.n,
                  ROW_NUMBER() OVER (PARTITION BY per.source
                                     ORDER BY s DESC, doc_id) AS rk
           FROM per JOIN ns USING (source))
    SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(CAST(s AS DOUBLE), 6) AS log_weight,
           rk <= CEIL(n * {tx.DSIR_KEEP_FRAC}) AS selected
    FROM rk
    """


def _quality_drift_oracle() -> str:
    from spanner_jdbc_converter_spark.plans.extensions import (
        _quality_select_sql,
    )

    qb = "(c_batch + 1.0) / (nb + 10)"
    pc = "(c_corpus + 1.0) / (nc + 10)"
    return f"""
    WITH f AS ({_quality_select_sql()}),
    b AS (SELECT CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS is_batch,
                 LEAST(CAST(FLOOR(quality * 10) AS BIGINT), 9) AS bin
          FROM f),
    h AS (SELECT bin, SUM(is_batch) AS c_batch,
                 SUM(1 - is_batch) AS c_corpus
          FROM b GROUP BY bin),
    t AS (SELECT SUM(c_batch) AS nb, SUM(c_corpus) AS nc FROM h),
    hh AS (SELECT a.bin, COALESCE(h.c_corpus, 0) AS c_corpus,
                  COALESCE(h.c_batch, 0) AS c_batch
           FROM (SELECT unnest(generate_series(0, 9)) AS bin) a
           LEFT JOIN h USING (bin))
    SELECT bin,
           CAST(c_corpus AS BIGINT) AS c_corpus,
           CAST(c_batch AS BIGINT) AS c_batch,
           ROUND(({qb} - {pc})
                * CAST(CAST(ROUND(ln(({qb}) / ({pc})), 6) AS DECIMAL(18,6))
                       AS DOUBLE), 6) AS psi_term
    FROM hh CROSS JOIN t
    """


@register("validate_quality_drift", oracle=_quality_drift_oracle())
def validate_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor for the quality-score
    distribution of an incoming batch (every 5th doc) vs the corpus —
    the standard "did this crawl's quality profile shift" check run
    before a batch is accepted: per decile bin, add-one-smoothed shares
    and the PSI term (q−p)·ln(q/p); Σ terms > 0.2 is the conventional
    drift alarm.

    Scale: quality and binning are expression-only; ONE 10-key grouped
    count with map-side combine carries the whole corpus; totals ride a
    broadcast one-row frame.  Parity: exact bin counts, IEEE-double
    smoothed shares, ln rounded at 6 into DECIMAL before the product,
    the term re-rounded at 6 into DECIMAL."""
    from spanner_jdbc_converter_spark.operators import validate as vd

    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        (F.col("doc_id") % 5 == 0).alias("_b"),
        F.col("text"),
        tx.tokens("text").alias("__toks"),
    ).select(
        "_b",
        vd.quality_bin(
            tx.quality_score_from_tokens("text", F.col("__toks"))
        ).alias("bin"),
    )
    # one-scan conditional histogram (the two-frame form is
    # operators/validate.py::quality_psi, used by the streaming ingest)
    h = b.groupBy("bin").agg(
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("c_batch"),
        F.sum(F.when(F.col("_b"), 0).otherwise(1)).alias("c_corpus"),
    )
    return vd.psi_terms(h)


def _schema_drift_oracle() -> str:
    """Replays schema_drift_report for the engineered-drift entry: the
    store is `documents`, the batch is the %5 slice with `lang` renamed
    to `lang_code`, `n_chars` retyped to DOUBLE, and `text` nulled on
    the %7 ids.  Column presence/status/type classes follow from that
    fixed construction (the same shared spec the Spark entry builds its
    batch from); null counts and the 2-bin PSI are recomputed
    honestly."""
    batch_sql = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text,
               lang AS lang_code,
               source,
               CAST(n_chars AS DOUBLE) AS n_chars
        FROM documents WHERE doc_id % 5 = 0
    """
    store_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    batch_cols = ["doc_id", "text", "lang_code", "source", "n_chars"]
    s_aggs = ", ".join(
        f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS z_{c}" for c in store_cols
    )
    b_aggs = ", ".join(
        f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS z_{c}" for c in batch_cols
    )

    def rate(side: str, col: str) -> str:
        return (
            f"CASE WHEN {side}.n = 0 THEN 0.0 "
            f"ELSE ROUND(CAST({side}.z_{col} AS DOUBLE) / {side}.n, 6) END"
        )

    def psi(col: str) -> str:
        q = f"((b.z_{col} + 1.0) / (b.n + 2))"
        p = f"((s.z_{col} + 1.0) / (s.n + 2))"
        ln6 = "CAST(CAST(ROUND(LN({x}), 6) AS DECIMAL(18,6)) AS DOUBLE)"
        return (
            f"ROUND(({q} - {p}) * {ln6.format(x=f'{q} / {p}')}"
            f" + ((1 - {q}) - (1 - {p}))"
            f" * {ln6.format(x=f'(1 - {q}) / (1 - {p})')}, 6)"
        )

    # (column, status, store_class, batch_class, store rate, batch rate, psi)
    rows = [
        ("doc_id", "ok", "integral", "integral",
         rate("s", "doc_id"), rate("b", "doc_id"), psi("doc_id")),
        ("lang", "dropped", "string", "absent", rate("s", "lang"), "0.0", "0.0"),
        ("lang_code", "added", "absent", "string",
         "0.0", rate("b", "lang_code"), "0.0"),
        ("n_chars", "retyped", "integral", "fractional",
         rate("s", "n_chars"), rate("b", "n_chars"), psi("n_chars")),
        ("source", "ok", "string", "string",
         rate("s", "source"), rate("b", "source"), psi("source")),
        ("text", "ok", "string", "string",
         rate("s", "text"), rate("b", "text"), psi("text")),
    ]
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS column_name, '{st}' AS status,
           '{sc}' AS store_class, '{bc}' AS batch_class,
           {sr} AS store_null_rate, {br} AS batch_null_rate,
           {ps} AS null_psi
    FROM s, b"""
        for c, st, sc, bc, sr, br, ps in rows
    )
    return f"""
    WITH s AS (SELECT COUNT(*) AS n, {s_aggs} FROM documents),
         b AS (SELECT COUNT(*) AS n, {b_aggs} FROM ({batch_sql}))
{selects}
    """


@register("validate_schema_drift", oracle=_schema_drift_oracle())
def validate_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion gate (VERDICT r11 gap #2): the FIRST check
    a production intake runs — does the arriving batch still LOOK like
    the store?  The entry engineers the three real failure modes into
    the %5 batch slice (a renamed column = dropped+added pair, a
    retyped column, a column silently going 15% null) and reports per
    column: status on the portable type class plus the null-rate shift
    with a 2-bin PSI (the quality_psi smoothing ladder applied to
    nullity).

    Scale: the schema diff is pure metadata (zero I/O); null counts are
    ONE aggregate per side over one scan; the report is
    column-count-sized.  See
    operators/validate.py::schema_drift_report."""
    from spanner_jdbc_converter_spark.operators import validate as vd

    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.col("lang").alias("lang_code"),
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
    )
    return vd.schema_drift_report(d, batch)


def _pack_bpe_oracle() -> str:
    from spanner_jdbc_converter_spark.plans.etl import (
        PACK_CAPACITY,
        _PACK_SHARD_SQL,
    )

    seg = _bpe_oracle(tx.BPE_MERGE_ROUNDS, segment=True)
    return f"""
    WITH RECURSIVE seg AS MATERIALIZED ({seg}),
    tk AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
    dw AS (SELECT doc_id, lang, w, COUNT(*) AS c
           FROM (SELECT doc_id, lang, unnest(t) AS w FROM tk)
           GROUP BY doc_id, lang, w),
    f AS (SELECT doc_id, lang, {_PACK_SHARD_SQL} AS shard,
                 CAST(SUM(c * seg.n_pieces) AS BIGINT) AS n_pieces
          FROM dw JOIN seg USING (w) GROUP BY doc_id, lang),
    t2 AS (SELECT doc_id, lang, shard, n_pieces,
                  ROW_NUMBER() OVER (PARTITION BY lang, shard
                                     ORDER BY doc_id) AS rn
           FROM f),
    p(doc_id, lang, shard, n_pieces, rn, bin_idx, bin_fill) AS (
      SELECT doc_id, lang, shard, n_pieces, rn, CAST(0 AS BIGINT), n_pieces
      FROM t2 WHERE rn = 1
      UNION ALL
      SELECT t2.doc_id, t2.lang, t2.shard, t2.n_pieces, t2.rn,
             CASE WHEN p.bin_fill + t2.n_pieces > {PACK_CAPACITY}
                  THEN p.bin_idx + 1 ELSE p.bin_idx END,
             CASE WHEN p.bin_fill + t2.n_pieces > {PACK_CAPACITY}
                  THEN t2.n_pieces ELSE p.bin_fill + t2.n_pieces END
      FROM p JOIN t2 ON t2.lang = p.lang AND t2.shard = p.shard
                    AND t2.rn = p.rn + 1)
    SELECT doc_id, lang, shard, n_pieces, bin_idx, bin_fill FROM p
    """


@register("select_pack_bpe_sequences", oracle=_pack_bpe_oracle())
def select_pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility-aware sequence packing: greedy next-fit into 512-PIECE
    bins where each doc's length is its subword-piece count under the
    corpus-learned BPE — the length that actually fills a model's
    context window.  Word-count packing (select_pack_sequences)
    under-fills bins for high-fertility sources; this is the packer a
    training pipeline runs after tokenizer induction.

    Scale: per-doc piece counts reduce (doc, word) occurrence counts
    against the vocabulary-sized session-cached segmentation frame —
    the corpus token stream is never joined row-by-row; packing reuses
    the composite-sharded Arrow packer (lang × 16 hash shards).  The
    oracle nests the segment unroll and walks the identical next-fit
    recurrence per composite shard.  See
    operators/selection.py::pack_token_sequences."""
    from spanner_jdbc_converter_spark.operators import selection as sel
    from spanner_jdbc_converter_spark.plans.etl import (
        PACK_CAPACITY,
        PACK_SHARDS,
    )

    d = load_table(spark, sf_dir, "documents")
    seg = _bpe_frames(spark, sf_dir)[1]
    dw = (
        d.select("doc_id", "lang", F.explode(tx.tokens("text")).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = (
        dw.join(seg.select("w", "n_pieces"), on="w")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"))
    )
    out = sel.pack_token_sequences(
        per, "lang", "n_pieces", "doc_id", PACK_CAPACITY, shards=PACK_SHARDS
    )
    return out.select(
        "doc_id", "lang", "shard", "n_pieces", "bin_idx", "bin_fill"
    )


def _novelty_oracle() -> str:
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql
    from spanner_jdbc_converter_spark.plans.extensions import _GRAMS_SQL

    h = md5_long_sql("g")
    return f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bg AS (SELECT DISTINCT doc_id, {h} AS h
           FROM (SELECT doc_id, unnest({_GRAMS_SQL}) AS g
                 FROM tk WHERE len(t) >= 3 AND doc_id % 5 = 0)),
    cg AS (SELECT DISTINCT {h} AS h
           FROM (SELECT unnest({_GRAMS_SQL}) AS g
                 FROM tk WHERE len(t) >= 3 AND doc_id % 5 <> 0)),
    j AS (SELECT bg.doc_id, CASE WHEN cg.h IS NULL THEN 1 ELSE 0 END AS nov
          FROM bg LEFT JOIN cg ON bg.h = cg.h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(nov) AS BIGINT) AS n_novel,
           CAST(SUM(nov) AS DOUBLE) / COUNT(*) AS novelty
    FROM j GROUP BY doc_id
    """


@register("text_ngram_novelty", oracle=_novelty_oracle())
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty valuation of a candidate batch (every 5th doc)
    against the existing corpus (the rest): the fraction of each batch
    doc's distinct word-3-grams never seen in the corpus — the
    "is this data worth acquiring" signal that catches informational
    redundancy below the near-dup threshold.

    Scale: grams shuffle as 60-bit md5 longs; the corpus collapses to
    its distinct gram-hash projection once; the gram-keyed join is
    stats-driven (small batch side broadcasts); per-doc counts ride the
    batch id partitioning.  The oracle replays the distinct sets, the
    left-join novelty marks, and the exact-integer division.  See
    operators/text.py::ngram_novelty."""
    d = load_table(spark, sf_dir, "documents")
    return tx.ngram_novelty(
        d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0)
    )


@register("select_dsir_importance", oracle=_dsir_oracle())
def select_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed-bigram
    importance weights (target source vs the whole raw pool), top
    quarter of each source kept by weight — the "pull the crawl toward
    the trusted distribution" selection stage.

    Scale: the hashing trick bounds both LMs to one fixed 8192-row
    frame (broadcast — scoring never shuffles the bigram stream); ONE
    bucket-keyed grouped count trains both models; the per-source exact
    top-fraction rides selection.banded_rank on micro-unit integer
    scores instead of a single-task per-source sort.  The oracle
    replays the bucket counts, round-6 DECIMAL ln ladder, DECIMAL
    per-doc sums, and the (weight desc, id) rank.  See
    operators/text.py::dsir_importance."""
    d = load_table(spark, sf_dir, "documents")
    return tx.dsir_importance(d)


# ---------------------------------------------------------------------------
# k-center coreset — farthest-point sampling, oracle unrolls the rounds.
# ---------------------------------------------------------------------------


def _kcenter_oracle(k: int = 8) -> str:
    def sq(e: str, c: str) -> str:
        d = f"(CAST({e}.embedding[i] AS DOUBLE) - CAST({c}.embedding[i] AS DOUBLE))"
        return (
            f"list_reduce(list_transform(range(1, len({e}.embedding) + 1), "
            f"i -> {d} * {d}), (a, b) -> a + b)"
        )

    ctes = [
        """
    c1 AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    m1 AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, {sq} AS mind
      FROM embeddings e CROSS JOIN c1 c WHERE e.vec_id <> c.vec_id)""".format(
            sq=sq("e", "c")
        )
    ]
    sels = ["SELECT vec_id, CAST(1 AS BIGINT) AS center_rank, 0.0 AS mindist FROM c1"]
    for t in range(2, k + 1):
        ctes.append(f"""
    c{t} AS (SELECT * FROM m{t - 1} ORDER BY mind DESC, vec_id LIMIT 1)""")
        sels.append(
            f"SELECT vec_id, CAST({t} AS BIGINT), mind FROM c{t}"
        )
        if t < k:
            ctes.append(
                """
    m{t} AS MATERIALIZED (
      SELECT m.vec_id, m.embedding, LEAST(m.mind, {sq}) AS mind
      FROM m{p} m CROSS JOIN c{t} c WHERE m.vec_id <> c.vec_id)""".format(
                    t=t, p=t - 1, sq=sq("m", "c")
                )
            )
    return "WITH " + ",".join(ctes) + "\n    " + "\n    UNION ALL ".join(sels)


@register("cluster_kcenter_coreset", oracle=_kcenter_oracle())
def cluster_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point-sampling k-center coreset (8 centers, squared L2,
    min-id seed): the maximally-spread representative subset + the
    corpus coverage-radius curve — coreset seeding for curriculum and
    eval-set design, the SELECTING complement to SemDedup's redundancy
    REMOVAL.

    Scale: 8 fixed driver rounds, each a broadcast-literal distance map
    with a running LEAST min (never recomputed against all centers) and
    one top-1 TakeOrdered reduction; only 8 single rows reach the
    driver (planning-scale).  The oracle unrolls the identical rounds —
    same left-fold squared distances, same (mind desc, id) argmax.
    See operators/clustering.py::kcenter_coreset."""
    e = load_table(spark, sf_dir, "embeddings")
    return cl.kcenter_coreset(e, k=8)


# ---------------------------------------------------------------------------
# PMI collocations — corpus-level bigram association strength.
# ---------------------------------------------------------------------------

#: Minimum bigram count for the PMI ranking — below this, PMI degenerates
#: to a rare-pair detector (a hapax bigram of two hapax words maxes it).
PMI_MIN_COUNT = 5


@register(
    "text_bigram_pmi",
    oracle=f"""
    WITH tk AS (SELECT {_TOKS_SQL} AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
        AS bigram
      FROM tk
    ),
    c2t AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram),
    c1t AS (SELECT w, COUNT(*) AS c1
            FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
    tot AS (SELECT (SELECT SUM(c1) FROM c1t) AS n1,
                   (SELECT SUM(c2) FROM c2t) AS n2),
    j AS (
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2, c2,
             ca.c1 AS ca, cb.c1 AS cb
      FROM c2t
      JOIN c1t ca ON string_split(bigram, ' ')[1] = ca.w
      JOIN c1t cb ON string_split(bigram, ' ')[2] = cb.w
      WHERE c2 >= {PMI_MIN_COUNT}
    ),
    p AS (
      SELECT w1, w2, c2,
             ROUND(ln((CAST(c2 AS DOUBLE) / n2)
                      / ((CAST(ca AS DOUBLE) / n1)
                         * (CAST(cb AS DOUBLE) / n1))), 6) AS pmi
      FROM j CROSS JOIN tot
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk FROM p)
    SELECT w1, w2, CAST(c2 AS BIGINT) AS c2, pmi, CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 20
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information —
    PMI(w1,w2) = ln(P(w1 w2) / (P(w1)·P(w2))) with a ≥5-count support
    floor: the association-strength ranking (Church & Hanks 1990) that
    surfaces multiword units where raw bigram counts (text_bigram_stats)
    just surface frequent words.

    Scale: both count frames are vocabulary-sized with map-side combine;
    the two unigram attachments are broadcast joins; totals ride a
    broadcast one-row frame; the top-20 window sorts the (floored)
    bigram vocabulary, never the corpus.  Parity: exact-integer counts;
    the probability ratio is a fixed-order IEEE expression and the ln
    rounds at 6 (the corpus ladder), so the rank ordering — rounded pmi
    desc, then words — is engine-identical."""
    from spanner_jdbc_converter_spark.operators import text as tx

    d = load_table(spark, sf_dir, "documents").select(
        tx.tokens("text").alias("__toks")
    )
    c2 = (
        d.select(
            F.explode(tx.word_ngrams_from_tokens(F.col("__toks"), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        d.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = c1.agg(F.sum("c1").alias("n1")).crossJoin(
        F.broadcast(c2.agg(F.sum("c2").alias("n2")))
    )
    ca = c1.select(F.col("w").alias("w1"), F.col("c1").alias("ca"))
    cb = c1.select(F.col("w").alias("w2"), F.col("c1").alias("cb"))
    j = (
        c2.filter(F.col("c2") >= PMI_MIN_COUNT)
        .select(
            F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
            F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
            "c2",
        )
        .join(F.broadcast(ca), on="w1")
        .join(F.broadcast(cb), on="w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.round(
        F.log(
            (F.col("c2").cast("double") / F.col("n2"))
            / (
                (F.col("ca").cast("double") / F.col("n1"))
                * (F.col("cb").cast("double") / F.col("n1"))
            )
        ),
        6,
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        j.select("w1", "w2", "c2", pmi.alias("pmi"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("w1", "w2", "c2", "pmi", "rank")
    )


# ---------------------------------------------------------------------------
# Cluster quality — centroid silhouette per cluster.
# ---------------------------------------------------------------------------


def _silhouette_oracle() -> str:
    parts, final = _kmeans_ctes(cl.KMEANS_K, cl.KMEANS_ITERS)
    cents = f"c{cl.KMEANS_ITERS - 1}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    scored AS (
      SELECT e.vec_id AS vec_id, c.cluster AS cluster, {_SQ_SQL} AS sq
      FROM embeddings e CROSS JOIN {cents} c),
    own AS (SELECT vec_id, cluster AS own_c, sq AS a FROM {final}),
    oth AS (SELECT s.vec_id, MIN(s.sq) AS b
            FROM scored s JOIN own o
              ON s.vec_id = o.vec_id AND s.cluster <> o.own_c
            GROUP BY s.vec_id),
    pt AS (SELECT o.own_c AS cluster,
                  ROUND(CASE WHEN GREATEST(o.a, t.b) = 0 THEN 0.0
                             ELSE (t.b - o.a) / GREATEST(o.a, t.b) END, 6) AS s
           FROM own o JOIN oth t USING (vec_id))
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS mean_silhouette
    FROM pt GROUP BY cluster
    """
    )


@register("cluster_silhouette_report", oracle=_silhouette_oracle())
def cluster_silhouette_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette quality per k-means cluster — for every point
    a = squared distance to its own final centroid, b = min over other
    centroids, s = (b−a)/max(a,b); the per-cluster mean is the number k
    and the embedding space get judged on (point-pairwise silhouette is
    N² and never runs at corpus scale).

    Scale: K broadcast centroid rows score every point map-side; a
    rides the (checkpointed) final assignment; b is a per-point min
    with map-side combine.  Parity: oracle-exact distance folds, a
    fixed-order IEEE ratio rounded at 6, DECIMAL-routed cluster means.
    See operators/clustering.py::silhouette_report."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.silhouette_report(emb)


# ---------------------------------------------------------------------------
# Linear-probe training — distributed batch perceptron, oracle-unrolled.
# ---------------------------------------------------------------------------


def _perceptron_ctes(iters: int, dim: int = 64) -> str:
    """The unrolled batch-perceptron recurrence as SQL: per round t,
    margins under w_{t-1}, DECIMAL per-dimension gradient sums over the
    misclassified set, w_t = w_{t-1} + g_t — the k-means unroll
    discipline applied to model training."""
    parts = [
        """pts AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x,
                 CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y
          FROM embeddings)""",
        f"w0 AS (SELECT unnest(range(1, {dim} + 1)) AS pos, 0.0 AS wval)",
    ]
    for t in range(1, iters + 2):
        prev = f"w{t - 1}"
        parts.append(
            f"wl{t} AS (SELECT list(wval ORDER BY pos) AS wv FROM {prev})"
        )
        parts.append(
            f"""m{t} AS (SELECT p.vec_id, p.y, p.x,
                   p.y * list_sum(list_transform(range(1, {dim} + 1),
                        i -> p.x[i] * w.wv[i])) AS margin
            FROM pts p CROSS JOIN wl{t} w)"""
        )
        if t <= iters:
            parts.append(
                f"""g{t} AS (SELECT pos,
                     CAST(SUM(CAST(y * xv AS DECIMAL(28,12))) AS DOUBLE) AS g
              FROM (SELECT y, unnest(range(1, {dim} + 1)) AS pos,
                           unnest(x) AS xv
                    FROM m{t} WHERE margin <= 0)
              GROUP BY pos)"""
            )
            parts.append(
                f"""w{t} AS (SELECT w.pos, w.wval + COALESCE(g.g, 0.0) AS wval
              FROM {prev} w LEFT JOIN g{t} g USING (pos))"""
            )
    selects = [
        f"SELECT CAST({t} AS BIGINT) AS iter,"
        f" CAST(SUM(CASE WHEN margin <= 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_mis,"
        f" ROUND(CAST(SUM(CASE WHEN margin <= 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / COUNT(*), 6) AS error_rate"
        f" FROM m{t}"
        for t in range(1, iters + 2)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("ml_linear_probe", oracle=_perceptron_ctes(3))
def ml_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe training ON the engine: a fixed-3-round BATCH
    perceptron separating the label's parity from the embeddings —
    per-round error rates before each full-batch update plus the final
    trained-weights error.  Linear probes are the standard cheap test
    of whether an embedding space encodes a property; the batch update
    (Σ y·x over the misclassified set) is order-independent, so the
    training loop itself is distributable AND every round is
    hash-checked against the oracle's unrolled recurrence.

    Scale: per round, one count agg + one map-side-combined 64-key
    gradient agg over the persisted point frame; only 64 doubles reach
    the driver per round (the kcenter planning-scale discipline);
    margins broadcast as literal weights — nothing shuffles wider than
    the dimension count.  See
    operators/clustering.py::perceptron_probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.perceptron_probe(emb, iters=3)


# ---------------------------------------------------------------------------
# Per-dimension embedding standardization profile.
# ---------------------------------------------------------------------------


@register(
    "vector_dim_profile",
    oracle="""
    WITH pts AS (
      SELECT unnest(range(1, len(embedding) + 1)) - 1 AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
      FROM embeddings
    ),
    agg AS (
      SELECT pos,
             CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS mean_raw,
             CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS m2,
             MIN(v) AS lo, MAX(v) AS hi
      FROM pts GROUP BY pos
    ),
    s AS (SELECT pos, mean_raw, lo, hi,
                 -- variance clamped at zero: DECIMAL rounding of v*v can
                 -- leave a tiny negative difference on a dead dimension
                 ROUND(sqrt(GREATEST(0.0, m2 - mean_raw * mean_raw)), 6) AS std
          FROM agg)
    SELECT CAST(pos AS BIGINT) AS pos,
           ROUND(mean_raw, 6) AS mean, std,
           CASE WHEN std = 0 THEN 0.0
                ELSE ROUND((lo - mean_raw) / std, 6) END AS z_min,
           CASE WHEN std = 0 THEN 0.0
                ELSE ROUND((hi - mean_raw) / std, 6) END AS z_max
    FROM s
    """,
)
def vector_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization profile of the embedding column —
    mean, σ, and the standardized extremes per dimension: the
    feature-preprocessing audit before whitening, quantization-range
    selection, or probe training (dead dimensions show σ≈0, heavy
    tails show |z| beyond the Gaussian envelope).  One posexplode pass,
    map-side-combined 64-key aggregate, DECIMAL power sums, σ rounded
    at 6 before the z divisions.  See
    operators/clustering.py::vector_dim_profile."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.vector_dim_profile(emb)


# ---------------------------------------------------------------------------
# Leading principal component by fixed-iteration power iteration.
# ---------------------------------------------------------------------------


from spanner_jdbc_converter_spark.plans.spectral_sql import (  # noqa: E402
    _fold64_sql,
    _pc1_ctes,
    _pca2_ctes,
)

_PC1_CTES, _PC1_V, _PC1_RAY = _pc1_ctes(cl.PC1_ITERS, 64)


_PCA2_CTES, _PCA2_V1, _PCA2_U, _PCA2_RAY2 = _pca2_ctes(cl.PC1_ITERS, 64)


@register(
    "cluster_pca2_coords",
    oracle=f"""
    WITH {_PCA2_CTES}
    SELECT e.vec_id,
           ROUND({_fold64_sql("e.x", "vf.v")} - {_fold64_sql("m.mu", "vf.v")}, 6)
             AS pc1_coord,
           ROUND({_fold64_sql("e.x", "uf.v")} - {_fold64_sql("m.mu", "uf.v")}, 6)
             AS pc2_coord,
           ROUND(r1.eig, 6) AS eig1,
           ROUND(r2.eig, 6) AS eig2
    FROM e, ml m, {_PCA2_V1} vf, {_PCA2_U} uf, {_PC1_RAY} r1, {_PCA2_RAY2} r2
    """,
)
def cluster_pca2_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 2-D PCA projection — coordinates along the top two
    principal components (power iteration for v1, one DEFLATION chain
    for v2; see operators/clustering.py::pca2_coords for the fold-order
    contracts and the one-scan-per-round plan).  The corpus map /
    drift-visualization / coarse-binning feature pass; the oracle
    unrolls BOTH chains plus the projection folds, so every coordinate
    and both eigenvalues hash-match after the shared round-at-6."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.pca2_coords(emb)


@register(
    "cluster_power_iteration_pc1",
    oracle=f"""
    WITH {_PC1_CTES}
    SELECT s.pos, ROUND(s.mu, 6) AS mu,
           ROUND(v.v[CAST(s.pos AS INT) + 1], 6) AS pc1,
           ROUND(r.eig, 6) AS eigval,
           s.n AS n_vecs
    FROM st s, {_PC1_V} v, {_PC1_RAY} r
    """,
)
def cluster_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the centered embedding matrix via
    3 fixed power-iteration rounds — the spectral audit / whitening-axis
    primitive (see operators/clustering.py::power_iteration_pc1 for the
    determinism contract and the one-scan-per-round plan shape).  The
    oracle unrolls the identical recurrence: DECIMAL-ladder means, the
    exact-binary 1/8 seed, fold-order-pinned projections, DECIMAL-
    quantized matvec sums, and the same normalization and Rayleigh
    folds — so all 64 loadings, the eigenvalue, and the means
    hash-match bit-for-bit after the shared round-at-6."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cl.power_iteration_pc1(emb)


# ---------------------------------------------------------------------------
# TextRank keywords — PageRank over the word co-occurrence graph.
# ---------------------------------------------------------------------------

from spanner_jdbc_converter_spark.operators import graph as gr  # noqa: E402

#: Minimum corpus-wide co-occurrence count for a co-occurrence edge,
#: and the keyword-list size.
TEXTRANK_MIN_CO = 5
TEXTRANK_TOPK = 20

_TR_STOP_SQL = ", ".join(f"'{w}'" for w in tx.LANG_PROFILES["en"])

#: Undirected co-occurrence edges: adjacent content-token pairs (en
#: stopwords removed first) canonicalized least/greatest, kept at
#: count >= TEXTRANK_MIN_CO, then emitted in both directions via a
#: 2-row unnest (no duplicated subquery).
_TR_EDGES_SQL = f"""
    SELECT CASE WHEN d.d = 0 THEN ce.a ELSE ce.b END AS src,
           CASE WHEN d.d = 0 THEN ce.b ELSE ce.a END AS dst,
           ce.w
    FROM (
      SELECT least(t[i], t[i+1]) AS a, greatest(t[i], t[i+1]) AS b,
             COUNT(*) AS w
      FROM (SELECT list_filter({_TOKS_SQL},
                               x -> NOT list_contains([{_TR_STOP_SQL}], x)) AS t
            FROM documents) tk,
           LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      WHERE t[i] <> t[i+1]
      GROUP BY 1, 2 HAVING COUNT(*) >= {TEXTRANK_MIN_CO}
    ) ce, (SELECT unnest([0, 1]) AS d) d
"""


@register(
    "text_textrank_keywords",
    oracle=f"""
    SELECT node AS keyword, rank FROM (
      {gr.pagerank_weighted_oracle_sql(_TR_EDGES_SQL, iterations=3)}
    ) ORDER BY rank DESC, node LIMIT {TEXTRANK_TOPK}
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): WEIGHTED
    PageRank over the undirected word co-occurrence graph — adjacent
    content tokens (stopwords removed) co-occurring >= 5 times
    corpus-wide, rank flowing in proportion to co-occurrence count
    (the paper's weighted formulation; on a dense co-occurrence graph
    the unweighted walk degenerates to near-uniform ranks) — surfacing
    the corpus's central vocabulary, the graph-centrality upgrade over
    raw TF-IDF term lists (text_tfidf_top_terms).

    Scale: edge derivation is one explode + one (a, b) groupBy whose
    shuffle carries vocabulary-sized pair rows; the graph itself is
    vocabulary-sized (nodes = content terms), so the 3 PageRank rounds
    (operators/graph.py::pagerank_weighted_fixed — DECIMAL mass sums,
    round-12 ranks, localCheckpoint lineage cuts) run on frames orders of
    magnitude smaller than the corpus; the final top-20 is a
    TakeOrderedAndProject, never a global sort materialization.  The
    oracle unrolls the identical recurrence and tie-breaks (rank desc,
    node asc)."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in tx.LANG_PROFILES["en"]])
    t = d.select(
        F.filter(tx.tokens("text"), lambda x: ~F.array_contains(sw, x)).alias("t")
    ).filter(F.size("t") >= 2)
    pair_expr = F.expr(
        "transform(sequence(1, size(t) - 1), i -> struct("
        "least(element_at(t, i), element_at(t, i + 1)) AS a, "
        "greatest(element_at(t, i), element_at(t, i + 1)) AS b))"
    )
    pairs = (
        t.select(F.explode(pair_expr).alias("p"))
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    ce = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TEXTRANK_MIN_CO)
    )
    edges = ce.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "n"
    ).unionByName(
        ce.select(F.col("b").alias("src"), F.col("a").alias("dst"), "n")
    )
    pr = gr.pagerank_weighted_fixed(edges, weight_col="n", iterations=3)
    return (
        pr.orderBy(F.desc("rank"), F.asc("node"))
        .limit(TEXTRANK_TOPK)
        .select(F.col("node").alias("keyword"), "rank")
    )


@register(
    "text_zipf_audit",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tf AS (SELECT token, COUNT(*) AS c
           FROM (SELECT unnest(t) AS token FROM tk) GROUP BY token),
    r AS (SELECT token, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rk
          FROM tf),
    l AS (SELECT CAST(ROUND(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
                 CAST(ROUND(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
          FROM r WHERE rk <= 50),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) AS DOUBLE) AS syy
          FROM l)
    SELECT n AS n_terms,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN n * sxx - sx * sx = 0 OR n = 0 THEN NULL
                ELSE ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                            * sx) / n, 6)
           END AS intercept,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
                ELSE ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
    FROM s
    """,
)
def text_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency audit: OLS of ln(count) on ln(rank) over the
    top-50 terms — slope near −1 is the natural-language signature;
    synthetic, templated, or spammy corpora flatten or steepen it, so
    the slope (with r² as the fit check) is a one-row corpus-health
    probe.

    Determinism: each ln is rounded at 6 and fixed as DECIMAL(12,6);
    the five moment sums are exact DECIMAL folds (order-free); the
    slope/intercept/r² ratios are fixed-order double expressions off
    those exact sums, rounded at 6 — the PMI/OLS discipline.

    Scale: one token-keyed grouped count (map-side combine); the
    ranking window runs over the VOCAB-sized aggregate and the moment
    fold over 50 rows — metadata scale past the first exchange."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tx.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    top = tf.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 50)
    logs = top.select(
        F.round(F.log(F.col("rk").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("y"),
    )
    s = logs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = n * F.col("syy") - F.col("sy") * F.col("sy")
    # a degenerate vocabulary (n < 2, or all-equal ranks) zeroes a
    # denominator: NULL beats an engine-dependent 0/0 (NaN vs error)
    return s.select(
        F.col("n").alias("n_terms"),
        F.when(den != 0, F.round(num / den, 6)).alias("slope"),
        F.when(
            (den != 0) & (n != 0),
            F.round((F.col("sy") - (num / den) * F.col("sx")) / n, 6),
        ).alias("intercept"),
        F.when(den * deny != 0, F.round((num * num) / (den * deny), 6)).alias(
            "r2"
        ),
    )


@register(
    "text_heaps_audit",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
    e AS (SELECT source, unnest(t) AS token FROM tk),
    p AS (SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT token) AS BIGINT) AS n_vocab
          FROM e GROUP BY source),
    l AS (SELECT source, n_tokens, n_vocab,
                 CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(12,6))
                   AS x,
                 CAST(ROUND(ln(CAST(n_vocab AS DOUBLE)), 6) AS DECIMAL(12,6))
                   AS y
          FROM p),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) AS DOUBLE) AS syy
          FROM l)
    SELECT n AS n_sources,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS beta,
           CASE WHEN n * sxx - sx * sx = 0 OR n = 0 THEN NULL
                ELSE ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                            * sx) / n, 6)
           END AS ln_k,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
                ELSE ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
    FROM s
    """,
)
def text_heaps_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law audit: OLS of ln(vocab) on ln(tokens) ACROSS SOURCES —
    the lexical-diversity growth exponent (V = K·N^β, β ≈ 0.4-0.6 for
    natural text; templated or deduplicated-to-death sources flatten
    β toward 0, token-spam pushes it toward 1).  The per-source twin of
    text_zipf_audit's rank-frequency slope, sharing its determinism
    discipline: ln rounded at 6 into DECIMAL(12,6), exact order-free
    moment folds, fixed-order double ratios, NULL-guarded degenerate
    denominators.

    Scale: one (source, token) grouped distinct + count — map-side
    combinable; the regression runs over the per-source metadata frame
    (one row per source)."""
    d = load_table(spark, sf_dir, "documents")
    p = (
        d.select("source", F.explode(tx.tokens("text")).alias("token"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("token").cast("long").alias("n_vocab"),
        )
    )
    logs = p.select(
        F.round(F.log(F.col("n_tokens").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("x"),
        F.round(F.log(F.col("n_vocab").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("y"),
    )
    s = logs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = n * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").alias("n_sources"),
        F.when(den != 0, F.round(num / den, 6)).alias("beta"),
        F.when(
            (den != 0) & (n != 0),
            F.round((F.col("sy") - (num / den) * F.col("sx")) / n, 6),
        ).alias("ln_k"),
        F.when(den * deny != 0, F.round((num * num) / (den * deny), 6)).alias(
            "r2"
        ),
    )


from spanner_jdbc_converter_spark.plans.registry import ORACLE as _ORACLE_MAP, QUERIES  # noqa: E402


def _roundtrip_oracle() -> str:
    """Composes the two REGISTERED encode oracles verbatim: a tokenizer
    whose piece stream does not reassemble to the exact token stream is
    silently corrupting training text."""
    return f"""
    WITH tk AS (SELECT doc_id,
                       array_to_string({_TOKS_SQL}, '') AS orig
                FROM documents),
    b AS (SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS rec
          FROM ({_ORACLE_MAP["text_bpe_encode"]}) GROUP BY doc_id),
    u AS (SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS rec
          FROM ({_ORACLE_MAP["text_unigram_encode"]}) GROUP BY doc_id),
    rb AS (SELECT 'bpe' AS tokenizer,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(CASE WHEN COALESCE(b.rec, '') <> tk.orig
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched
           FROM tk LEFT JOIN b ON b.doc_id = tk.doc_id),
    ru AS (SELECT 'unigram' AS tokenizer,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(CASE WHEN COALESCE(u.rec, '') <> tk.orig
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched
           FROM tk LEFT JOIN u ON u.doc_id = tk.doc_id)
    SELECT * FROM rb UNION ALL SELECT * FROM ru
    """


@register("validate_tokenizer_roundtrip", oracle=_roundtrip_oracle())
def validate_tokenizer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ROUND-TRIP audit: for BOTH tokenizer families, every
    document's piece stream must reassemble (concat in pos order) to the
    exact concatenation of its word tokens — the invariant that makes a
    tokenizer safe to train through; a lossy segmentation (dropped
    char, duplicated piece, bad merge) silently corrupts every
    downstream token count and packed sequence.  Emits one row per
    family with the mismatch count (expected 0 — the entry is the audit
    a pipeline alerts on, and the oracle replays both segmentations
    end-to-end).  Docs with no tokens reconstruct the empty string and
    count as matches via the COALESCE.

    Scale: both encode streams are the session-cached entries
    (vocabulary joins + piece explodes); the audit adds one doc-keyed
    sort-agg per family and a two-row union."""
    d = load_table(spark, sf_dir, "documents")
    orig = d.select(
        "doc_id", F.array_join(tx.tokens("text"), "").alias("orig")
    )

    def card(pieces: DataFrame, name: str) -> DataFrame:
        rec = (
            pieces.groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "piece"))
                        ),
                        lambda s: s["piece"],
                    ),
                    "",
                ).alias("rec")
            )
        )
        j = orig.join(rec, on="doc_id", how="left")
        return j.agg(
            F.lit(name).alias("tokenizer"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.coalesce(F.col("rec"), F.lit("")) != F.col("orig"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatched"),
        ).select("tokenizer", "n_docs", "n_mismatched")

    bpe = QUERIES["text_bpe_encode"](spark, sf_dir)
    uni = QUERIES["text_unigram_encode"](spark, sf_dir)
    return card(bpe, "bpe").unionByName(card(uni, "unigram"))


def _intradoc_oracle(n: int) -> str:
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql

    span = f"array_to_string(t[i:i + {n} - 1], ' ')"
    return f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sp AS (SELECT doc_id, i - 1 AS s, {md5_long_sql("span")} AS h
           FROM (SELECT doc_id, i, {span} AS span
                 FROM tk, unnest(range(1, len(t) - {n} + 2)) AS r(i))),
    rep AS (SELECT doc_id, s FROM (
              SELECT doc_id, s, MIN(s) OVER (PARTITION BY doc_id, h) AS f
              FROM sp)
            WHERE s > f),
    st AS (SELECT doc_id, list(s) AS starts FROM rep GROUP BY doc_id),
    j AS (SELECT tk.doc_id, tk.t,
                 list_transform(
                   list_filter(range(1, len(tk.t) + 1),
                     i -> len(list_filter(
                            COALESCE(st.starts, CAST([] AS BIGINT[])),
                            s -> s <= i - 1 AND i - 1 < s + {n})) = 0),
                   i -> tk.t[i]) AS kept
          FROM tk LEFT JOIN st USING (doc_id))
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(kept, ' '), '') AS clean_text
    FROM j
    """


@register(
    "text_intradoc_scrub",
    oracle=_intradoc_oracle(tx.INTRADOC_NGRAM),
)
def text_intradoc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: every word covered by a
    REPEAT occurrence of a word-3-gram (its identical span appeared
    earlier in the SAME doc) is scrubbed; first occurrences survive
    (single pass against the original span positions — NOT idempotent
    in general, see operators/text.py).  The transform form of the Gopher
    duplicate-n-gram rules — boilerplate_scrub cannot see a passage
    pasted twice into one document (df = 1), and repetition_profile
    only scores it.

    Scale: one positioned shingle pass, one (id, hash) exchange for
    first-occurrence minima, per-doc start lists, expression-only
    indexed rebuild — no UDFs.  The oracle replays first-occurrence
    detection, coverage, and reassembly.  See
    operators/text.py::intradoc_scrub."""
    d = load_table(spark, sf_dir, "documents")
    return tx.intradoc_scrub(d)


def _crossdoc_oracle(n: int) -> str:
    from spanner_jdbc_converter_spark.functions.hashing import md5_long_sql  # noqa: PLC0415

    span = f"array_to_string(t[i:i + {n} - 1], ' ')"
    return f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sp AS (SELECT doc_id, i - 1 AS s, {md5_long_sql("span")} AS h
           FROM (SELECT doc_id, i, {span} AS span
                 FROM tk, unnest(range(1, len(t) - {n} + 2)) AS r(i))),
    rep AS (SELECT doc_id, s FROM (
              SELECT doc_id, s, MIN(doc_id) OVER (PARTITION BY h) AS f
              FROM sp)
            WHERE doc_id > f),
    st AS (SELECT doc_id, list(s) AS starts FROM rep GROUP BY doc_id),
    j AS (SELECT tk.doc_id, tk.t,
                 list_transform(
                   list_filter(range(1, len(tk.t) + 1),
                     i -> len(list_filter(
                            COALESCE(st.starts, CAST([] AS BIGINT[])),
                            s -> s <= i - 1 AND i - 1 < s + {n})) = 0),
                   i -> tk.t[i]) AS kept
          FROM tk LEFT JOIN st USING (doc_id))
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(kept, ' '), '') AS clean_text
    FROM j
    """


from spanner_jdbc_converter_spark.operators import dedup as _dd  # noqa: E402


@register(
    "text_crossdoc_scrub",
    oracle=_crossdoc_oracle(_dd.SPAN_NGRAM),
)
def text_crossdoc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring scrub (VERDICT r14 "What's missing
    #3" — the Lee-et-al ExactSubstr TRANSFORM): every word covered by a
    verbatim 32-token span that also appears in an EARLIER document is
    rewritten out; the first-occurrence document survives untouched.
    Closes the detect-vs-rewrite gap: dedup_span_contamination REPORTS
    these spans, this entry removes them.

    Scale: no pair join anywhere — the global first-occurrence is one
    grouped MIN on the span hash (map-side combinable, posting lists
    never expand), the hash-keyed join back reuses the exchange (AQE),
    and reassembly is the shared expression-only indexed rebuild.  The
    oracle replays span hashing, the corpus-wide minimum, coverage, and
    reassembly; idempotency-on-fixture + hand-doc semantics in
    tests/test_empty_inputs.py.  See operators/text.py::crossdoc_scrub."""
    d = load_table(spark, sf_dir, "documents")
    return tx.crossdoc_scrub(d)


# ---------------------------------------------------------------------------
# Weighted reservoir (Efraimidis–Spirakis) — K per source, ∝ n_chars.
# ---------------------------------------------------------------------------

_WRES_K = 10


@register(
    "select_weighted_reservoir",
    oracle=f"""
    WITH w AS (
      SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
             ({md5_long_sql("concat('wres:', CAST(doc_id AS VARCHAR))")} + 1)
               / {_U_DENOM!r} AS u
      FROM documents WHERE n_chars > 0),
    kk AS (
      SELECT source, doc_id, weight, ROUND(-ln(u) / weight, 6) AS es_key
      FROM w),
    r AS (
      SELECT source, doc_id, weight, es_key,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY es_key, doc_id) AS rank
      FROM kk)
    SELECT source, doc_id, weight, es_key, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {_WRES_K}
    """,
)
def select_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted K-per-source sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES, weight = n_chars): the distributed one-pass answer to
    "sample K docs per source, longer docs proportionally more likely"
    — no sequential reservoir, no rejection, no global sort, unlike the
    Bernoulli entry (select_quality_weighted_sample) it returns an
    EXACT-size sample per group.

    Parity: u is the deterministic md5 uniform shifted to (0, 1]; the
    −ln(u)/w key rounds at 6 BEFORE ranking (the surprisal convention —
    the round absorbs libm ulp drift) and doc_id breaks ties, so both
    engines produce the identical top-K.  Scale: one shuffle on source;
    rank ≤ K compiles to WindowGroupLimit (running top-K, no full group
    sort).  See operators/selection.py::weighted_reservoir."""
    from spanner_jdbc_converter_spark.operators import selection as _sel

    d = load_table(spark, sf_dir, "documents")
    return _sel.weighted_reservoir(
        d, "source", "doc_id", "n_chars", k=_WRES_K
    )
