"""Reference-parity query corpus (SURVEY.md §2) — the driver-checked surface.

Every entry registers BOTH a PySpark DataFrame program and an ANSI-SQL
oracle that DuckDB runs on the same parquet fixtures.  Column names are
aliased identically on both sides (the driver sorts columns by name before
hashing values).

Float-parity strategy: aggregate money/quantity through DECIMAL so the sum
is *exact* in both engines (double summation order is engine-dependent;
decimal summation is not), then round + cast back to DOUBLE.  Pure
passthrough doubles are bit-identical from parquet and need no care.
Integer-valued computed columns are cast to BIGINT on both sides so the
schemas align (DuckDB COUNT/EXTRACT return BIGINT; Spark count returns
long but year() returns int).

Scale notes are attached per query: what the plan does at 100 TB, which
side broadcasts, where the shuffles are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spanner_jdbc_converter_spark.catalog import load_table
from spanner_jdbc_converter_spark.plans.registry import (
    ORACLE,
    QUERIES,
    register,
    session_store,
)

__all__ = ["QUERIES", "ORACLE", "register"]


def _dec(col):
    """Money/quantity expression → exact decimal for order-independent sums."""
    return col.cast("decimal(18,4)")


def _money(sum_col, alias: str):
    """Exact decimal sum → rounded double, same on both engines."""
    return F.round(sum_col, 2).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Flagship: scan → filter → join×3 → agg → sort → limit  (SURVEY.md §7.2)
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    LIMIT 10
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation over a 2-year order window.

    Exercises the reference's scan/filter/projection shapes (S5, P1, P4,
    O1/O2; REF/data/UploadWorker.java:50-72) plus the parity join/agg
    surface the reference lacks (SURVEY.md §2.3-2.4).

    Scale: lineitem⋈orders is the one real shuffle (both fact-sized, key
    = orderkey); customer joins on the post-agg-side still shuffles, but
    nation (25 rows) is broadcast — Catalyst picks this automatically
    under the autoBroadcastJoinThreshold, and the date filter is pushed
    to the orders parquet scan (min/max row-group skipping).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            _money(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))), "revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy(F.desc("revenue"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Scans / probes (S5, S8, A1; TableDeleter threshold W6)
# ---------------------------------------------------------------------------


@register(
    "s8_cardinality_probes",
    oracle="""
    SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_cnt,
           (SELECT COUNT(*) FROM orders)   AS orders_cnt,
           (SELECT COUNT(*) FROM customer) AS customer_cnt
    """,
)
def s8_cardinality_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 COUNT(*) probes (REF/util/ConverterUtils.java:193-216) over the
    three largest tables; parquet answers these from footer metadata —
    no data scan even at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("lineitem_cnt"))
    o = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("orders_cnt"))
    c = load_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("customer_cnt"))
    return li.crossJoin(o).crossJoin(c)


@register(
    "w6_delete_strategy_probe",
    oracle="""
    SELECT tbl, row_cnt,
           CASE WHEN row_cnt < 10000 THEN 'single_statement' ELSE 'ranged' END AS delete_strategy
    FROM (
      SELECT 'orders' AS tbl, COUNT(*) AS row_cnt FROM orders
      UNION ALL
      SELECT 'lineitem' AS tbl, COUNT(*) AS row_cnt FROM lineitem
    ) t
    """,
)
def w6_delete_strategy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's delete-path sizing decision (REF/data/TableDeleter.java:28-40):
    < 10,000 rows → one DELETE statement, else range-partitioned workers."""
    o = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("row_cnt")).select(
        F.lit("orders").alias("tbl"), "row_cnt"
    )
    li = load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_cnt")).select(
        F.lit("lineitem").alias("tbl"), "row_cnt"
    )
    u = o.unionByName(li)
    return u.withColumn(
        "delete_strategy",
        F.when(F.col("row_cnt") < 10000, F.lit("single_statement")).otherwise(F.lit("ranged")),
    )


# ---------------------------------------------------------------------------
# Projections / predicates (P1, P2, P4)
# ---------------------------------------------------------------------------


@register(
    "p1_explicit_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           l_extendedprice, l_returnflag, l_shipdate
    FROM lineitem
    """,
)
def p1_explicit_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 explicit column-list projection (REF/data/Columns.java:30-33).
    Column pruning reaches the parquet scan: ReadSchema carries only these
    8 of 11 columns."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    )


@register(
    "p2_pk_only_projection",
    oracle="SELECT l_orderkey, l_linenumber FROM lineitem",
)
def p2_pk_only_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 PK-only projection — the reference's delete path reads only key
    columns (REF/data/TableDeleter.java:68, REF/data/Columns.java:54-60)."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")


# Composite-PK range bounds used by P4 + the delete simulation below.
_PK_LO = (1000, 1)
_PK_HI = (3000, 3)

# True lexicographic range over (l_orderkey, l_linenumber) — the reference's
# conjunctive form pk1>=? AND pk2>=? (REF/data/Columns.java:40-52) is NOT
# correct for composite keys (SURVEY.md §7.4); this is the intended
# semantics, spelled identically in Spark and the oracle.
_PK_RANGE_SQL = f"""
    ((l_orderkey > {_PK_LO[0]} OR (l_orderkey = {_PK_LO[0]} AND l_linenumber >= {_PK_LO[1]}))
 AND (l_orderkey < {_PK_HI[0]} OR (l_orderkey = {_PK_HI[0]} AND l_linenumber <= {_PK_HI[1]})))
"""


@register(
    "p4_composite_pk_range_scan",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE {_PK_RANGE_SQL}
    """,
)
def p4_composite_pk_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 PK-range predicate bound to sampled begin/end keys
    (REF/data/DeleteWorker.java:17,64-80), with corrected lexicographic
    semantics.  The whole predicate is pushable — parquet row-group
    min/max on l_orderkey prunes most of a 100 TB table."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.expr(_PK_RANGE_SQL))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "w5_ranged_delete_survivors",
    oracle=f"""
    SELECT COUNT(*) AS survivor_cnt,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty_sum
    FROM lineitem
    WHERE NOT {_PK_RANGE_SQL}
    """,
)
def w5_ranged_delete_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 chunked range delete (REF/data/DeleteWorker.java:42-115) restated
    declaratively: survivors = rows outside the doomed key range.  At scale
    this is a pushed-down negated range filter + rewrite, not row-at-a-time
    DELETEs."""
    df = load_table(spark, sf_dir, "lineitem").filter(~F.expr(_PK_RANGE_SQL))
    return df.agg(
        F.count(F.lit(1)).alias("survivor_cnt"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        _money(F.sum(_dec(F.col("l_quantity"))), "qty_sum"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / offset (O1-O3)
# ---------------------------------------------------------------------------


@register(
    "o1_o2_pk_ordered_chunk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 500
    """,
)
def o1_o2_pk_ordered_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: deterministic PK-ordered chunk — the reference's pagination
    unit (REF/data/DataCopier.java:25).  Spark computes LIMIT over ORDER BY
    as a TakeOrderedAndProject (per-partition top-k + merge), no full sort."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


@register(
    "o3_offset_pagination",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 200 OFFSET 2500
    """,
)
def o3_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 OFFSET cursor (REF/data/UploadWorker.java:52-57).  Only correct
    under a total order, hence ORDER BY the full composite PK.  Note for
    scale: OFFSET is inherently serial — the engine's copy pipeline uses
    range predicates instead (see copy.py); this query exists for parity."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .offset(2500)
        .limit(200)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1, A4 + parity group-bys)
# ---------------------------------------------------------------------------


@register(
    "a4_row_size_estimate",
    oracle="""
    SELECT COUNT(*) AS row_cnt,
           CAST(SUM(8*6 + 8 + 8 + 2*LENGTH(o_orderstatus) + 8 + 12
               + 2*LENGTH(o_orderpriority)) AS BIGINT) AS est_total_bytes
    FROM orders
    """,
)
def a4_row_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-type byte costing (REF/util/ConverterUtils.java:75-116):
    8B/column overhead; INT64=8, TIMESTAMP=12, NVARCHAR=2×len — applied to
    the orders schema.  Pure integer arithmetic, exact on both engines."""
    o = load_table(spark, sf_dir, "orders")
    row_bytes = (
        F.lit(8 * 6) + F.lit(8) + F.lit(8)
        + 2 * F.length("o_orderstatus")
        + F.lit(8) + F.lit(12)
        + 2 * F.length("o_orderpriority")
    )
    return o.agg(
        F.count(F.lit(1)).alias("row_cnt"),
        F.sum(row_bytes).cast("long").alias("est_total_bytes"),
    )


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(12,2)))
                          * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2)
                AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the parity grouped-aggregation
    surface (SURVEY.md §2.4).  Partial aggregation happens map-side
    (HashAggregate before the exchange), so the shuffle carries 6 groups,
    not 600M rows, at any scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    # Decimal-route BEFORE multiplying: the fixtures carry 2-decimal money
    # values, so each factor cast is exact and all products stay exact in
    # decimal — casting a *double product* instead would hit Spark's
    # HALF_UP vs DuckDB's half-even on near-halfway doubles.
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    one_m_disc = F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)")
    one_p_tax = F.lit(1).cast("decimal(12,2)") + F.col("l_tax").cast("decimal(12,2)")
    sum_qty_dec = F.sum(_dec(F.col("l_quantity")))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _money(sum_qty_dec, "sum_qty"),
        _money(F.sum(_dec(F.col("l_extendedprice"))), "sum_base_price"),
        _money(F.sum(ext * one_m_disc), "sum_disc_price"),
        _money(F.sum(ext * one_m_disc * one_p_tax), "sum_charge"),
        F.round(F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_distinct_custs_per_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS distinct_custs,
           COUNT(*) AS order_cnt
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_custs_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity distinct aggregation (SURVEY.md §2.4).  Catalyst expands
    COUNT(DISTINCT) into a two-stage aggregate — partial dedup map-side."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_custs"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


@register(
    "rollup_lineitem_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS line_cnt,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity ROLLUP (SURVEY.md §2.4): subtotals + grand total in one pass
    (Expand operator feeds a single shuffle)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            _money(F.sum(_dec(F.col("l_quantity"))), "sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (parity surface, SURVEY.md §2.3; S7/P5 are semi/anti shapes)
# ---------------------------------------------------------------------------


@register(
    "join_order_counts_per_customer",
    oracle="""
    SELECT orders_per_cust, COUNT(*) AS num_customers
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS orders_per_cust
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) t
    GROUP BY orders_per_cust
    """,
)
def join_order_counts_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + two-level aggregation (order-count histogram).
    COUNT(o_orderkey) counts only matched rows — null-safe on both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("orders_per_cust"))
    )
    return per_cust.groupBy("orders_per_cust").agg(F.count(F.lit(1)).alias("num_customers"))


@register(
    "join_anti_customers_without_recent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2001-01-01'
    )
    """,
)
def join_anti_customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the reference's delete-by-key semantics
    (P5, REF/data/DeleteWorker.java:52-61) as a set operation, restricted
    to a recent order window so the result is non-trivial.  With a small
    key side Catalyst broadcasts the anti side (no shuffle of the big
    table)."""
    c = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_semi_suppliers_with_shipments",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    """,
)
def join_semi_suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — the reference's S7 existence probe
    (REF/data/DataCopier.java:128-138) lifted from catalog metadata to data."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@register(
    "join_full_outer_part_lineitem_brands",
    oracle="""
    SELECT p_brand,
           COUNT(l_orderkey) AS shipped_lines,
           COUNT(DISTINCT p_partkey) AS parts_in_brand
    FROM part p FULL OUTER JOIN lineitem l ON p.p_partkey = l.l_partkey
    GROUP BY p_brand
    """,
)
def join_full_outer_part_lineitem_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join keeps parts never shipped AND (hypothetical) orphan
    lineitems; grouped by brand.  Full-outer cannot broadcast — it is a
    shuffle sort-merge join at any scale, keyed on partkey."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "full_outer")
        .groupBy("p_brand")
        .agg(
            F.count("l_orderkey").alias("shipped_lines"),
            F.countDistinct("p_partkey").alias("parts_in_brand"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (parity, SURVEY.md §2.6)
# ---------------------------------------------------------------------------


@register(
    "setops_customer_segments",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t1) AS rich_auto,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t2) AS rich_not_auto,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t3) AS rich_or_auto
    """,
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over key sets (reference does set
    membership on metadata only, REF/ddl/TableConverter.java:28,131-145)."""
    c = load_table(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    a = rich.intersect(auto).agg(F.count(F.lit(1)).alias("rich_auto"))
    b = rich.subtract(auto).agg(F.count(F.lit(1)).alias("rich_not_auto"))
    u = rich.union(auto).distinct().agg(F.count(F.lit(1)).alias("rich_or_auto"))
    return a.crossJoin(b).crossJoin(u)


# ---------------------------------------------------------------------------
# Window functions (parity, top-k per group)
# ---------------------------------------------------------------------------


@register(
    "window_top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) t
    WHERE rn <= 3
    """,
)
def window_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ROW_NUMBER with a deterministic orderkey
    tiebreak.  Spark 3.5+/4.x inserts a WindowGroupLimit (per-partition
    top-k before the shuffle) — this stays cheap when each segment has
    millions of orders."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Scalar function surface (parity, SURVEY.md §2.7)
# ---------------------------------------------------------------------------


@register(
    "scalar_function_surface",
    oracle="""
    SELECT o_orderkey,
           UPPER(SUBSTRING(o_orderpriority, 3, 20)) AS prio_name,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_prio,
           CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           DATE_TRUNC('month', o_orderdate) AS order_month_start,
           FLOOR(o_totalprice / 1000) AS price_bucket,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 2, 2) AS DOUBLE) AS doubled_price
    FROM orders
    WHERE o_orderkey <= 1000
    """,
)
def scalar_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar coverage (SURVEY.md §2.7 — the reference
    computes none of these on data; this is the parity surface the oracle
    corpus needs).  All built-in JVM expressions inside one
    WholeStageCodegen span — no Python in the hot path."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("prio_name"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.floor(F.col("o_totalprice") / 1000).cast("double").alias("price_bucket"),
        F.round(_dec(F.col("o_totalprice")) * 2, 2).cast("double").alias("doubled_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped parity queries (SURVEY.md §2.3-2.5 capability additions)
# ---------------------------------------------------------------------------


@register(
    "q3_unshipped_topk",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_unshipped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): top-10 highest-revenue orders
    taken before a date but not yet shipped by it, for one market
    segment (fixtures carry no o_shippriority — grouped on
    (l_orderkey, o_orderdate) instead).

    Scale: the segment filter prunes ~4/5 of customer BEFORE its join;
    both date filters are pushed into the parquet scans (row-group
    min/max skipping); orders⋈lineitem shuffles on orderkey; the final
    TopK is a TakeOrderedAndProject — no global sort materialization.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_money(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_returned_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one year.

    Scale: returnflag + date predicates push to the scans; nation (25
    rows) broadcasts; the heavy shuffle pair is orders⋈lineitem on
    orderkey, then one agg shuffle on custkey.  TopK via
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))), "revenue"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (SELECT l_partkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                       COUNT(*) AS n_lines
                FROM lineitem GROUP BY l_partkey)
    SELECT p_brand,
           COUNT(*) AS n_small_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS small_qty_revenue
    FROM lineitem
    JOIN pq   ON lineitem.l_partkey = pq.l_partkey
    JOIN part ON lineitem.l_partkey = p_partkey
    WHERE CAST(l_quantity AS DECIMAL(18,4)) * n_lines * 5 < sum_qty
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from
    lineitems whose quantity is below 20% of the part's average, by
    brand.  The avg comparison is algebraically rearranged to
    ``qty · n · 5 < Σqty`` over exact decimals/ints — no double division
    on either engine, so the predicate is bit-deterministic.

    Scale: the per-part aggregate and the fact join share the same
    l_partkey shuffle key (one exchange is reused); part is dimension-
    sized per key group.  No correlated subquery — the decorrelated form
    IS the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(pq, li.l_partkey == pq.pq_partkey)
        .join(p, li.l_partkey == p.p_partkey)
        .filter(_dec(F.col("l_quantity")) * F.col("n_lines") * 5 < F.col("sum_qty"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            _money(F.sum(_dec(F.col("l_extendedprice"))), "small_qty_revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Catalog scans as corpus entries (SURVEY.md §2.1 S1-S3)
# ---------------------------------------------------------------------------


def _catalog_oracle_sql() -> str:
    from spanner_jdbc_converter_spark.catalog import FIXTURE_TABLES, PRIMARY_KEYS

    rows = " UNION ALL ".join(
        f"SELECT '{t}' AS table_name,"
        f" (SELECT COUNT(*) FROM (DESCRIBE {t})) AS n_columns,"
        f" '{', '.join(PRIMARY_KEYS[t])}' AS pk"
        for t in FIXTURE_TABLES
    )
    return f"SELECT table_name, CAST(n_columns AS BIGINT) AS n_columns, pk FROM ({rows})"


#: The registered fixture views.  The catalog listing needs the views
#: to exist, but re-reading ten parquet footers and re-registering on
#: EVERY call is a driver-side loop that scales linearly with table
#: count.  Registration is idempotent per session, so warm calls skip
#: straight to the metadata scan.
@session_store("queries._S1_VIEWS")
def _fixture_frames(spark: SparkSession, sf_dir: str) -> dict:
    from spanner_jdbc_converter_spark.catalog import FIXTURE_TABLES

    frames = {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}
    for name, df in frames.items():
        df.createOrReplaceTempView(name)
    return frames


@register("s1_catalog_column_scan", oracle=_catalog_oracle_sql())
def s1_catalog_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3 catalog scan (REF/ddl/TableConverter.java:131-154,
    REF/util/ConverterUtils.java:166-191): enumerate user tables through
    the session catalog (system schemas filtered, P6), then read column
    counts from the self-describing parquet schema and the primary key
    from carried metadata.  The oracle recomputes the column counts from
    DuckDB's DESCRIBE over the same files — both sides are true metadata
    scans; no data is read.  Views register once per session+sf_dir
    (``_fixture_frames``), so repeat scans are pure catalog metadata."""
    from spanner_jdbc_converter_spark.catalog import (
        FIXTURE_TABLES,
        get_columns,
        is_system_schema,
    )

    frames = _fixture_frames(spark, sf_dir)
    listed = {
        t.name
        for t in spark.catalog.listTables()
        if not is_system_schema(t.database or "")
    }
    rows = []
    for name in FIXTURE_TABLES:
        if name not in listed:
            continue
        meta = get_columns(frames[name], name)
        rows.append((name, len(meta.names), meta.pk_list))
    return spark.createDataFrame(rows, "table_name string, n_columns long, pk string")


@register(
    "window_event_interarrival",
    oracle="""
    WITH g AS (SELECT user_id,
                      epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                            ORDER BY ts, event_id)) AS gap_us
               FROM events)
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g
    GROUP BY user_id
    """,
)
def window_event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event inter-arrival gaps via lag() — the lead/lag window
    surface over the stream-shaped table.  Gaps in exact integer
    microseconds (unix_micros ≡ epoch_us) so sums hash bit-equal.

    Scale: one hash(user_id) exchange feeds both the window sort and the
    final per-user aggregation — no second shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        e.select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
    )


@register(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets in one
    pass (SURVEY.md §2.4 parity addition beyond rollup).  Spark expands
    the sets map-side before the single agg shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        _money(F.sum(_dec(F.col("l_quantity"))), "sum_qty"),
    )


@register(
    "exists_suppliers_of_large_orders",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity >= 45)
    ORDER BY s_suppkey
    """,
)
def exists_suppliers_of_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS, decorrelated to a left-semi join (what Catalyst
    does to the SQL form too — RewriteCorrelatedScalarSubquery /
    RewritePredicateSubquery).  The quantity filter pushes into the
    lineitem scan; the semi join never duplicates supplier rows."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact⋈fact join over STORAGE-BUCKETED copies: orders and
    lineitem each materialize once as 8-bucket, per-bucket-sorted
    managed tables hash-bucketed on the order key
    (sources.py::ensure_bucketed), after which the orderkey merge join
    runs with ZERO exchange — both sides scan pre-partitioned buckets
    (the merge sorts remain: Spark cannot trust intra-bucket file
    order, but they are partition-local CPU, not network).  At 100 TB
    this is the
    amortized answer to the one shuffle flagship_revenue_by_nation
    still pays: lay the fact tables out once, every downstream
    orderkey join is exchange-free (plan-locked in
    tests/test_plans.py).  The merge hint only pins the join STRATEGY
    so tiny test fixtures don't broadcast away the evidence;
    co-location itself comes from the layout.  Values are identical to
    the plain-parquet join — the oracle never sees the bucketed copies."""
    from spanner_jdbc_converter_spark import sources as src

    o = spark.table(src.ensure_bucketed(spark, sf_dir, "orders", "o_orderkey"))
    li = spark.table(src.ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey"))
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "revenue",
            ),
        )
    )
