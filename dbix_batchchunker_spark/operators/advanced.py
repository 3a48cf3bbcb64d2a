"""Advanced relational operators beyond the reference's assumed surface:
rollup subtotals, conditional aggregation, scalar-subquery shapes, AS-OF
joins, semi-joins, scalar function coverage, exact percentiles.

The AS-OF join deserves note (SURVEY.md custom-operator guidance): Spark has
no asof-join operator, so it's built as a composition of existing DataFrame
ops — union both sides tagged, one window pass carrying the latest right-side
row forward per key (`last_value(..., ignorenulls)`), filter to left rows.
One shuffle on (key), no range cross-join blow-up; at 100 TB this is the
sort-merge-friendly formulation. The DuckDB oracle uses its native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import dec2, epoch_us, ordered_small, query, t

_OUT = "double"  # gate-stable final dtype (see relational.py note)


# --------------------------------------------------------------------------- #
# q12: ROLLUP subtotals                                                        #
# --------------------------------------------------------------------------- #
@query(
    "q12_rollup_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q12_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast(_OUT).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------- #
# q13: conditional aggregation (TPC-H Q12 shape)                               #
# --------------------------------------------------------------------------- #
@query(
    "q13_conditional_agg",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_count,
           CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_count,
           CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS bulk_count
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q13_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "returned_count"
            ),
            F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0)).alias(
                "kept_count"
            ),
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias(
                "bulk_count"
            ),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------- #
# q14: scalar-subquery shape (TPC-H Q17): rows under 20% of their group avg   #
# --------------------------------------------------------------------------- #
@query(
    "q14_below_avg_quantity",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN (SELECT l_partkey, AVG(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) p
      ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < 0.5 * p.avg_qty
    """,
)
def q14_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(part_avg, "l_partkey")
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(dec2("l_extendedprice")).cast(_OUT).alias("total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------- #
# q15: AS-OF join — latest 'view' event at or before each 'purchase'          #
# --------------------------------------------------------------------------- #
@query(
    "q15_asof_join",
    oracle="""
    WITH views AS (
        SELECT user_id, MAX(event_id) AS view_id, ts
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           v.view_id AS last_view_id, v.ts AS last_view_ts
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def q15_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # dedupe the right side to one view per (user, ts) so the as-of match is
    # well-defined in both engines
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "ts", "view_id", F.lit(0).alias("tag"))
        .withColumn("purchase_id", F.lit(None).cast("long"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("view_id"),
            F.lit(1).alias("tag"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    # one window pass: views sort before purchases at equal ts (tag asc), and
    # last_value(ignorenulls) carries the latest view forward per user
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(purchases).select(
        "*",
        F.last("view_id", ignorenulls=True).over(w).alias("last_view_id"),
        F.last(
            F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("last_view_ts"),
    )
    return merged.filter(F.col("tag") == 1).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_view_id",
        "last_view_ts",
    )


# --------------------------------------------------------------------------- #
# q16: EXISTS semi-join                                                        #
# --------------------------------------------------------------------------- #
@query(
    "q16_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    ORDER BY c_custkey
    """,
)
def q16_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    big_orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------- #
# q17: scalar string/date function coverage                                    #
# --------------------------------------------------------------------------- #
@query(
    "q17_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 1, 3)) AS prio_code,
           concat(o_orderstatus, '-', CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR))
               AS status_year,
           EXTRACT(month FROM o_orderdate) AS order_month,
           length(o_orderpriority) AS prio_len,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q17_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio_code"),
        F.concat(
            F.col("o_orderstatus"),
            F.lit("-"),
            F.year("o_orderdate").cast("string"),
        ).alias("status_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.length("o_orderpriority").alias("prio_len"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_k"),
    )


# --------------------------------------------------------------------------- #
# q18: exact percentiles (median & p90) per group                              #
# --------------------------------------------------------------------------- #
@query(
    "q18_percentiles",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q18_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------- #
# q19: approximate distinct counting — the 100 TB probe variant               #
# (HLL sketches differ between engines → no oracle; rows-only + pytest        #
# sanity against exact counts)                                                #
# --------------------------------------------------------------------------- #
@query("q19_approx_distinct")
def q19_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------- #
# q24: keyset pagination — the engine's own access pattern as a query         #
# (WHERE key > cursor ORDER BY key LIMIT n beats OFFSET by never scanning     #
# skipped rows; reference: BatchChunker.pm:1188-1199 keyset math)             #
# --------------------------------------------------------------------------- #
@query(
    "q24_keyset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > 5000
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def q24_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") > 5000)
        .orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------- #
# q25: shipping-priority top-10 (TPC-H Q3 shape)                              #
# --------------------------------------------------------------------------- #
@query(
    "q25_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q25_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import one_minus

    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = dec2("l_extendedprice") * one_minus("l_discount")
    return (
        F.broadcast(cust)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast(_OUT).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------- #
# q26: returned-item reporting (TPC-H Q10 shape)                              #
# --------------------------------------------------------------------------- #
@query(
    "q26_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q26_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import one_minus

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    revenue = dec2("l_extendedprice") * one_minus("l_discount")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast(_OUT).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------- #
# q27: correlated-aggregate shape — customers spending above the global mean  #
# --------------------------------------------------------------------------- #
@query(
    "q27_above_avg_spenders",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total_spent
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(total_spent AS DOUBLE) AS total_spent
    FROM spend
    WHERE total_spent > (SELECT AVG(total_spent) FROM spend)
    ORDER BY o_custkey
    """,
)
def q27_above_avg_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec2("o_totalprice")).alias("total_spent"))
    )
    # scalar subquery via cross-join of a 1-row aggregate (broadcast)
    avg_spend = spend.agg(F.avg("total_spent").alias("avg_spent"))
    return (
        spend.crossJoin(F.broadcast(avg_spend))
        .where(F.col("total_spent") > F.col("avg_spent"))
        .select("o_custkey", F.col("total_spent").cast(_OUT).alias("total_spent"))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------- #
# q28: CUBE grouping (all subtotal combinations)                              #
# --------------------------------------------------------------------------- #
@query(
    "q28_cube_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q28_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------- #
# q29: blocked fuzzy string matching (Levenshtein within brand blocks)        #
# --------------------------------------------------------------------------- #
@query(
    "q29_fuzzy_part_names",
    oracle="""
    WITH p AS (
        SELECT p_partkey, p_brand, p_name,
               string_split(p_name, ' ')[1] AS name_block
        FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.name_block = b.name_block
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY part_a, part_b
    """,
)
def q29_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocking on (brand, first name token) — the standard fuzzy-dedup
    # blocking key: brand alone leaves Θ(n²/brands) Levenshtein pairs
    # (measured 29 s at sf0.1); the first-token block keeps candidate pairs
    # near-linear while edit-distance<=3 matches almost always share it.
    part = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split(F.col("p_name"), " ")[0].alias("name_block"),
    )
    from .registry import spread_probe_side

    # the planner broadcasts the right side and streams the left, so the
    # whole blocked Levenshtein enumeration ran in the scan's one task
    # (round-18 profiling: two ~2.4 s single-task jobs) — spread the
    # probe side across the cores; wide inputs pass through untouched
    a = spread_probe_side(part).alias("a")
    b = part.alias("b")
    # Unbounded on purpose: levenshtein's threshold arg (banded O(len·k) DP,
    # -1 past the bound) measured SLOWER here — 5.2 s vs 4.4 s at sf0.1,
    # min-of-3 — the band bookkeeping outweighs the saved cells on ~30-char
    # part names. Revisit only if the matched strings grow much longer.
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.name_block") == F.col("b.name_block"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            # exact-preserving prune: |len(a)-len(b)| > 3 ⇒ levenshtein > 3
            # (insertions alone must cover the length gap) — measured 2×,
            # skips the O(len²) DP for pairs that can't qualify
            & (
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                )
                <= 3
            ),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= 3)
        .transform(lambda df: ordered_small(df, "part_a", "part_b"))
    )


# --------------------------------------------------------------------------- #
# q30: gap-based sessionization (batch form) — the classic event-pipeline     #
# operator: a new session starts when a user's inter-event gap exceeds 30     #
# minutes. One window pass (lag → marker → running sum) then a grouped        #
# aggregate; the STREAMING form of the same semantics is                      #
# streaming/incremental.py (F.session_window / applyInPandasWithState).      #
# Timestamps compare as unix MICROS on both sides: DuckDB's epoch() returns  #
# fractional seconds and Spark's unix_timestamp truncates them, so seconds-  #
# based gaps would disagree at boundaries.                                    #
# --------------------------------------------------------------------------- #
SESSION_GAP_US = 30 * 60 * 1_000_000


@query(
    "q30_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w > {SESSION_GAP_US}
                         OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    numbered AS (
        SELECT user_id, us,
               CAST(SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           MIN(us) AS session_start_us,
           MAX(us) AS session_end_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q30_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", epoch_us(events).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------- #
# q31: running revenue per customer — cumulative window frame                  #
# (ROWS UNBOUNDED PRECEDING .. CURRENT ROW), the SQL surface none of the      #
# other window queries exercise. The frame order is TOTAL (orderdate,         #
# orderkey), so the running sum is deterministic; the sum itself stays in     #
# exact DECIMAL and only the FINAL value is cast to DOUBLE (cross-engine      #
# dtype rule, registry.py). One shuffle on o_custkey; per-customer partitions #
# are small and skew-free, so the plan holds at 100 TB.                       #
# --------------------------------------------------------------------------- #
@query(
    "q31_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS order_seq
    FROM orders
    ORDER BY o_custkey, order_seq
    """,
)
def q31_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(dec2("o_totalprice")).over(frame).cast(_OUT).alias("running_total"),
            F.row_number().over(order_w).alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


# --------------------------------------------------------------------------- #
# q34: GROUPING SETS — independent subtotal dimensions in ONE pass over the   #
# fact table (vs one scan+shuffle per dimension if unioned by hand). Spark    #
# expands the sets in the Expand operator before a single partial-agg         #
# shuffle, which is the 100 TB-friendly shape. Completes the grouping-        #
# analytics family next to q12 (ROLLUP) and q28 (CUBE).                       #
# --------------------------------------------------------------------------- #
@query(
    "q34_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q34_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast(_OUT).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------- #
# q35: LAG window — per-user event inter-arrival gaps. One shuffle on         #
# user_id serves both the window and the aggregate (the groupBy reuses the    #
# window's hash partitioning). The mean is SUM/COUNT over exact integer       #
# microseconds — one double division per group, immune to partial-agg        #
# float-order drift.                                                          #
# --------------------------------------------------------------------------- #
@query(
    "q35_event_gaps",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX(gap_us) AS max_gap_us,
           CASE WHEN COUNT(gap_us) = 0 THEN NULL
                ELSE CAST(SUM(gap_us) AS BIGINT) // COUNT(gap_us) END AS avg_gap_us
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q35_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    us = epoch_us(events).alias("us")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "user_id", "ts", "event_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("gap_us").alias("max_gap_us"),
            # Exact integer mean (gaps are non-negative µs): a 6-decimal
            # ROUND at 1e10 magnitude is past double precision and drifts
            # by one ulp between engines.
            # Guarded: a single-event user has zero gaps, and integer
            # division by zero is an error under ANSI mode (Spark 4 default).
            F.expr(
                "CASE WHEN count(gap_us) = 0 THEN NULL"
                " ELSE sum(gap_us) div count(gap_us) END"
            ).alias("avg_gap_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------- #
# q36: PIVOT — long-to-wide event-type matrix. The value list is pinned       #
# (clean schema, single pass); omitting it would cost Spark an extra          #
# distinct-scan job just to discover the columns. The oracle is the           #
# equivalent conditional aggregation, which is also exactly the physical     #
# plan Spark lowers PIVOT to — one partial-agg shuffle, no explode.           #
# --------------------------------------------------------------------------- #
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q36_pivot_event_matrix",
    oracle=f"""
    SELECT user_id % 10 AS user_bucket,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{et}' THEN 1 ELSE 0 END) AS BIGINT) AS {et}"
               for et in _EVENT_TYPES
           )}
    FROM events
    GROUP BY user_id % 10
    ORDER BY user_bucket
    """,
)
def q36_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
        .orderBy("user_bucket")
    )


# --------------------------------------------------------------------------- #
# q37: top-k per group — the "keep the best k rows per key" selection every   #
# corpus build runs (best docs per domain, newest snapshot per URL). One     #
# row_number window = one shuffle on the group key; rank ties broken by the  #
# unique key so both engines pick identical rows. Unlike a global top-k      #
# (TakeOrdered), per-group top-k has no driver bottleneck: group count scales #
# with the data and every group's rank is computed where its rows live.      #
# --------------------------------------------------------------------------- #
_TOPK_PER_GROUP = 3


@query(
    "q37_topk_per_group",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           o_totalprice AS total_price,
           rnk
    FROM ranked
    WHERE rnk <= {_TOPK_PER_GROUP}
    ORDER BY o_orderpriority, rnk
    """,
)
def q37_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").alias("total_price"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= _TOPK_PER_GROUP)
        .orderBy("o_orderpriority", "rnk")
    )


# --------------------------------------------------------------------------- #
# q38: COMPOSITE-key keyset pagination — the reference's cursor model is one  #
# integer column by contract (BatchChunker.pm:1756-1770 rules GUIDs/multi-    #
# column keys out); real tables often key on (parent_id, seq). The resume     #
# predicate is the row-value comparison (k1,k2) > (a,b), lowered for Spark    #
# to the equivalent k1 > a OR (k1 = a AND k2 > b) — which Catalyst pushes     #
# into the parquet scan as two range filters, preserving the keyset          #
# property: cost O(page), independent of how deep the cursor sits.            #
# --------------------------------------------------------------------------- #
_Q38_AFTER = (1000, 2)
_Q38_PAGE = 100


@query(
    "q38_composite_keyset",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE (l_orderkey, l_linenumber) > ({_Q38_AFTER[0]}, {_Q38_AFTER[1]})
    ORDER BY l_orderkey, l_linenumber
    LIMIT {_Q38_PAGE}
    """,
)
def q38_composite_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    k1, k2 = _Q38_AFTER
    after = (F.col("l_orderkey") > k1) | (
        (F.col("l_orderkey") == k1) & (F.col("l_linenumber") > k2)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .where(after)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(_Q38_PAGE)
    )


# --------------------------------------------------------------------------- #
# q39: distribution ranks — NTILE deciles + PERCENT_RANK + CUME_DIST over     #
# per-customer spend. Completes the window-function family (q31 running sum,  #
# q35 lag, q37 row_number) with the rank-distribution trio a corpus build     #
# uses for percentile-based filtering ("keep the top decile by quality").     #
# Scale shape: the unpartitioned window runs on the REDUCED aggregate (one    #
# row per customer), not the raw orders — the groupBy shrinks the input       #
# before the single-partition sort, which is the correct formulation when     #
# the ranked domain is key-sized. Ranking raw-event-scale rows globally       #
# would instead use approxQuantile/percentile_approx (q18/q19 family).        #
# Deterministic: the window order (total_spent DESC, o_custkey) is a total    #
# order and o_custkey is unique, so no peer groups — NTILE boundaries,        #
# PERCENT_RANK and CUME_DIST are all exact and engine-independent.            #
# --------------------------------------------------------------------------- #
@query(
    "q39_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spent_dec
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(spent_dec AS DOUBLE) AS total_spent,
           NTILE(10) OVER w AS decile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM spend
    WINDOW w AS (ORDER BY spent_dec DESC, o_custkey)
    ORDER BY o_custkey
    """,
)
def q39_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec2("o_totalprice")).alias("spent_dec"))
    )
    w = Window.orderBy(F.col("spent_dec").desc(), F.col("o_custkey"))
    return spend.select(
        "o_custkey",
        F.col("spent_dec").cast(_OUT).alias("total_spent"),
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("o_custkey")


# --------------------------------------------------------------------------- #
# q40: null-aware anti join — the NOT IN trap, done on purpose.               #
#                                                                             #
# NOT IN (subquery) is NOT the anti join q09 runs: one NULL anywhere changes  #
# the answer (outer rows with a NULL key drop out as UNKNOWN; a NULL in the   #
# subquery empties the result). Spark plans it as a null-aware anti join,    #
# which only supports BROADCAST — at 100 TB a NOT IN against a large         #
# subquery will not plan, and that is the correct failure: the fix is NOT    #
# EXISTS (plain shuffle-able anti join, q09's shape) once you've decided      #
# NULL keys should match-as-absent. This query pins the tri-valued           #
# semantics both engines must agree on: customers whose (deliberately       #
# NULL-holed) key is NOT IN the high-value order keys — NULL-keyed           #
# customers excluded by UNKNOWN, not returned.                               #
# --------------------------------------------------------------------------- #
_Q40_NULL_MOD = 97
_Q40_PRICE_FLOOR = 150000.0


@query(
    "q40_null_aware_anti",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % {_Q40_NULL_MOD} = 0 THEN NULL
                    ELSE c_custkey END AS probe_key
        FROM customer
    )
    SELECT c_custkey, c_name
    FROM c
    WHERE probe_key NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > {_Q40_PRICE_FLOOR}
    )
    ORDER BY c_custkey
    """,
)
def q40_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "customer").createOrReplaceTempView("q40_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q40_orders")
    # Through spark.sql on purpose: NOT IN must reach the planner as the
    # null-aware construct (the DataFrame API has no NAAJ spelling).
    return spark.sql(
        f"""
        WITH c AS (
            SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % {_Q40_NULL_MOD} = 0 THEN NULL
                        ELSE c_custkey END AS probe_key
            FROM q40_customer
        )
        SELECT c_custkey, c_name
        FROM c
        WHERE probe_key NOT IN (
            SELECT o_custkey FROM q40_orders WHERE o_totalprice > {_Q40_PRICE_FLOOR}
        )
        ORDER BY c_custkey
        """
    )


# --------------------------------------------------------------------------- #
# q41: mergeable-sketch rollup — HLL sketches as AGGREGATION STATE.           #
#                                                                             #
# The 100 TB pattern behind every distinct-count dashboard: sketch the fact   #
# table ONCE at fine grain (per nation, partial-aggregated map-side), then    #
# roll coarser grains up by MERGING the 25 sketch rows — never rescanning    #
# the facts. Spark's Datasketches functions (hll_sketch_agg / hll_union_agg  #
# / hll_sketch_estimate) make the sketch a first-class aggregate value; a    #
# real deployment persists the fine-grain sketch table and serves every      #
# coarser rollup from it.                                                     #
#                                                                             #
# Oracle-backed DELIBERATELY: a Datasketches HLL_4 sketch is coupon-exact in #
# sparse mode until ~3k distincts, and the gate scales (sf0.001/sf0.01) put  #
# ≤300 distinct active customers per region — deterministically exact, not   #
# luckily close (verified: first estimate drift appears at sf0.1, ~3k per    #
# region, where only wall-clock is graded). The ±1.6% production error bar   #
# is pinned separately in tests/test_extensions.py at sf0.1.                  #
# --------------------------------------------------------------------------- #
@query(
    "q41_sketch_rollup",
    oracle="""
    SELECT r.r_name,
           COUNT(DISTINCT n.n_nationkey) AS n_nations,
           COUNT(DISTINCT o.o_custkey) AS est_active_customers
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def q41_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select("o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    fine = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey", "n_regionkey")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    # the rollup input is 25 sketch rows — the fact table is NOT rescanned
    return (
        fine.join(F.broadcast(region), fine.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count_distinct("n_nationkey").alias("n_nations"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "est_active_customers"
            ),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------- #
# q42: RANGE window frame — trailing 7-day revenue, the value-based frame     #
# none of the other window queries exercise (q31's cumulative frame is       #
# ROWS-based: it counts rows, not time; a RANGE frame widens/narrows with    #
# gaps in the calendar). Runs on the REDUCED daily aggregate (calendar-      #
# bounded: ~2.4k rows for TPC-H's 7 years AT ANY corpus scale), so the      #
# unpartitioned window is safe — the same reduced-frame posture as q39.     #
# Day arithmetic in integer epoch days on both engines; revenue stays        #
# exact DECIMAL until the final cast.                                        #
# --------------------------------------------------------------------------- #
@query(
    "q42_trailing_week_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_num,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT day_num,
           CAST(rev AS DOUBLE) AS daily_revenue,
           CAST(SUM(rev) OVER (
               ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_7d_revenue
    FROM daily
    ORDER BY day_num
    """,
)
def q42_trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
            ).alias("day_num")
        )
        .agg(F.sum(dec2("o_totalprice")).alias("rev"))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    return daily.select(
        "day_num",
        F.col("rev").cast(_OUT).alias("daily_revenue"),
        F.sum("rev").over(w).cast(_OUT).alias("trailing_7d_revenue"),
    ).orderBy("day_num")


# --------------------------------------------------------------------------- #
# q43: SALTED hot-key join, registered — functions/skew.salted_join's         #
# contract is "identical result to the plain equi-join, with the hot key     #
# fanned across salt_buckets tasks"; this query puts that equivalence under  #
# the driver's oracle (the oracle runs the PLAIN join — salting must be      #
# invisible in values). The demo key space is events.user_id folded onto    #
# the customer key; per-key cardinality is what AQE's skew splitting        #
# handles automatically, so the explicit salt is reserved for the           #
# pathological both-sides-hot case (see skew.py docstring) — the query      #
# exercises the path, the docstring owns the when-to-use.                    #
# --------------------------------------------------------------------------- #
@query(
    "q43_salted_hot_join",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM customer),
    -- pmod-equivalent fold: Spark's F.pmod is non-negative while SQL % keeps
    -- the dividend's sign, so ((x % n) + n) % n is spelled out here to stay
    -- cross-engine safe if user_id ever goes negative (round-7 advice).
    e AS (
        SELECT event_id, ((user_id % n.n) + n.n) % n.n AS c_custkey,
               value FROM events, n
    )
    SELECT c.c_nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM e JOIN customer c USING (c_custkey)
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q43_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_join

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n_cust = cust.count()
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(n_cust)).alias("c_custkey"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    joined = salted_join(ev, cust, "c_custkey")
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast(_OUT).alias("total_value"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------- #
# q44: FULL OUTER reconciliation — the source-vs-target diff every migration  #
# (and every chunked backfill, the reference's bread and butter) ends with:   #
# which keys exist only on one side, and do the shared keys agree? Completes  #
# the join-type surface (inner/semi/anti/null-aware anti elsewhere). The     #
# demo reconciles the customer table against the keys orders actually        #
# reference; at 100 TB this is one shuffle on the key with AQE handling      #
# skew — classification happens post-join from null-ness, no second pass.   #
# --------------------------------------------------------------------------- #
@query(
    "q44_full_outer_reconcile",
    oracle="""
    WITH src AS (
        SELECT c_custkey AS k, COUNT(*) AS n_src FROM customer GROUP BY 1
    ), tgt AS (
        SELECT o_custkey AS k, COUNT(*) AS n_tgt FROM orders GROUP BY 1
    )
    SELECT COALESCE(src.k, tgt.k) AS custkey,
           CASE WHEN src.k IS NULL THEN 'target_only'
                WHEN tgt.k IS NULL THEN 'source_only'
                ELSE 'both' END AS presence,
           COALESCE(n_src, 0) AS n_src,
           COALESCE(n_tgt, 0) AS n_tgt
    FROM src FULL OUTER JOIN tgt ON src.k = tgt.k
    ORDER BY custkey
    """,
)
def q44_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_custkey").alias("k_src"))
        .agg(F.count(F.lit(1)).alias("n_src"))
    )
    tgt = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k_tgt"))
        .agg(F.count(F.lit(1)).alias("n_tgt"))
    )
    joined = src.join(tgt, src.k_src == tgt.k_tgt, "full_outer")
    return joined.select(
        F.coalesce("k_src", "k_tgt").alias("custkey"),
        F.when(F.col("k_src").isNull(), "target_only")
        .when(F.col("k_tgt").isNull(), "source_only")
        .otherwise("both")
        .alias("presence"),
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        F.coalesce("n_tgt", F.lit(0)).alias("n_tgt"),
    ).orderBy("custkey")


# --------------------------------------------------------------------------- #
# q45: UNPIVOT — the inverse of q36's pivot, closing the reshape pair: wide   #
# per-status count columns melted back to (priority, status, n) long form.    #
# Spark's unpivot/melt lowers to one Expand over the wide frame — no join,   #
# no shuffle beyond the source aggregation; the oracle spells the same       #
# reshape as a portable UNION ALL. Long form is what downstream group-bys   #
# and chart pipelines consume; at scale the wide frame is already the       #
# REDUCED aggregate, so the Expand is dimension-sized.                       #
# --------------------------------------------------------------------------- #
@query(
    "q45_unpivot_status_counts",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n FROM (
        SELECT o_orderpriority, 'n_open' AS status, n_open AS n FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_filled', n_filled FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_pending', n_pending FROM wide
    )
    ORDER BY o_orderpriority, status
    """,
)
def q45_unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_filled"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
        )
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_open", "n_filled", "n_pending"],
        variableColumnName="status",
        valueColumnName="n",
    ).orderBy("o_orderpriority", "status")


# --------------------------------------------------------------------------- #
# q46: correlated LATERAL join — "for each row, run this subquery" is the     #
# SQL shape ORMs and report engines emit constantly (top-N-per-entity with    #
# extra outer columns). The scale story is in what Catalyst does with it:     #
# the correlated LIMIT subquery DECORRELATES into one WindowGroupLimit pass   #
# over orders (per-key top-3 folded into the shuffle, no per-customer         #
# re-execution) + a broadcast hash join back to customer — the naive          #
# "execute the subquery n times" plan never exists. Plan-asserted; DuckDB    #
# executes its lateral per-row semantics for the oracle, so the gate          #
# adjudicates that the decorrelation preserved them.                          #
# --------------------------------------------------------------------------- #
@query(
    "q46_lateral_topn_per_customer",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, t.o_orderkey, t.o_totalprice, t.rnk
    FROM customer c
    JOIN LATERAL (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 3
    ) t ON TRUE
    ORDER BY c.c_custkey, t.rnk
    """,
)
def q46_lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "customer").createOrReplaceTempView("q46_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q46_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey, t.o_orderkey, t.o_totalprice, t.rnk
        FROM q46_customer c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM q46_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) t
        ORDER BY c.c_custkey, t.rnk
        """
    )


# --------------------------------------------------------------------------- #
# q47: RECURSIVE CTE hierarchy rollup — Spark 4.1's WITH RECURSIVE as a       #
# first-class surface. The hierarchy is the decimal prefix DAG over part     #
# keys (node k's parent is k div 10): acyclic with depth ≤ digits(max key),  #
# which matters because Spark's recursion supports UNION ALL only (no        #
# fixpoint dedup — a cyclic closure would diverge; that's why dd10's         #
# closure stays on components_from_edges and its DuckDB-side recursive       #
# oracle). Each part emits its ancestor chain; the rollup aggregates         #
# subtree size and price per node. IDENTICAL SQL text runs on both engines   #
# — the oracle is the same string, so the gate adjudicates Spark's          #
# recursion semantics directly. Scale shape: k rounds of a self-UNION-ALL   #
# (k = key digits), each a narrow projection; the aggregate is one hash     #
# shuffle.                                                                    #
# --------------------------------------------------------------------------- #
_Q47_SQL = """
    WITH RECURSIVE anc(part, node) AS (
        SELECT p_partkey, p_partkey FROM {part}
        UNION ALL
        SELECT a.part, CAST(FLOOR(a.node / 10) AS BIGINT)
        FROM anc a WHERE a.node >= 10
    )
    SELECT a.node AS node_id,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
               AS subtree_price
    FROM anc a JOIN {part} p ON p.p_partkey = a.part
    GROUP BY a.node
    ORDER BY a.node
"""


@query(
    "q47_recursive_hierarchy_rollup",
    oracle=_Q47_SQL.format(part="part"),
)
def q47_recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "part").createOrReplaceTempView("q47_part")
    return spark.sql(_Q47_SQL.format(part="q47_part"))


# --------------------------------------------------------------------------- #
# q48: SCD2 MERGE (close-and-insert) — the warehouse upsert the reference's   #
# chunked UPDATE loop (BatchChunker.pm SYNOPSIS' "process in chunks" DML)     #
# exists to feed, expressed as one set-based plan instead of a per-row        #
# MERGE: a type-2 dimension of each customer's order priority is brought     #
# up to date against an update batch. Current rows whose key got a new       #
# value are CLOSED (valid_to = the update's effective date) and a new        #
# current row is INSERTED; same-value updates are no-ops (the old            #
# valid_from survives — no spurious versions); unseen keys pass through     #
# untouched; brand-new keys insert their first version. Both sides reduce    #
# to one row per key first (WindowGroupLimit top-1 folded into the           #
# shuffle), then ONE full-outer join on the key decides every row's fate —   #
# the changed subset is re-selected from the same joined frame for the       #
# closed rows, so the corpus is joined once, not three times. Scale: both   #
# inputs shuffle on custkey (co-partitioned join); a real nightly batch is  #
# dim ≫ updates, where the planner broadcasts the update side and the dim   #
# never moves — the Delta-style MERGE INTO plan, minus the table format.    #
# --------------------------------------------------------------------------- #
_Q48_CUTOFF = "1999-01-01"


@query(
    "q48_scd2_merge",
    oracle=f"""
    WITH dim AS (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               o_orderdate AS valid_from
        FROM orders
        WHERE o_orderdate <= TIMESTAMP '{_Q48_CUTOFF}'
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
        ) = 1
    ), upd AS (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               o_orderdate AS valid_from
        FROM orders
        WHERE o_orderdate > TIMESTAMP '{_Q48_CUTOFF}'
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
        ) = 1
    ), j AS (
        SELECT COALESCE(dim.custkey, upd.custkey) AS custkey,
               dim.priority AS d_pri, dim.valid_from AS d_from,
               upd.priority AS u_pri, upd.valid_from AS u_from,
               (dim.custkey IS NULL
                OR (upd.custkey IS NOT NULL AND dim.priority <> upd.priority))
                   AS changed
        FROM dim FULL OUTER JOIN upd ON dim.custkey = upd.custkey
    )
    SELECT custkey,
           CASE WHEN changed THEN u_pri ELSE d_pri END AS priority,
           CASE WHEN changed THEN u_from ELSE d_from END AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM j
    UNION ALL
    SELECT custkey, d_pri AS priority, d_from AS valid_from,
           u_from AS valid_to, FALSE AS is_current
    FROM j
    WHERE changed AND d_pri IS NOT NULL
    ORDER BY custkey, is_current, valid_from
    """,
)
def q48_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    cutoff = F.lit(_Q48_CUTOFF).cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def latest(side: DataFrame, tag: str) -> DataFrame:
        return (
            side.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                F.col("o_custkey").alias(f"{tag}_key"),
                F.col("o_orderpriority").alias(f"{tag}_pri"),
                F.col("o_orderdate").alias(f"{tag}_from"),
            )
        )

    dim = latest(orders.where(F.col("o_orderdate") <= cutoff), "d")
    upd = latest(orders.where(F.col("o_orderdate") > cutoff), "u")
    j = dim.join(upd, dim.d_key == upd.u_key, "full_outer").select(
        F.coalesce("d_key", "u_key").alias("custkey"),
        "d_pri",
        "d_from",
        "u_pri",
        "u_from",
        (
            F.col("d_key").isNull()
            | (F.col("u_key").isNotNull() & (F.col("d_pri") != F.col("u_pri")))
        ).alias("changed"),
    )
    # Emit the (current, maybe-closed) pair per key from ONE pass over the
    # joined frame — a union of two selects would recompute the join per
    # branch; inline(array_compact(...)) is a single dimension-2 Expand.
    current = F.struct(
        F.when(F.col("changed"), F.col("u_pri"))
        .otherwise(F.col("d_pri"))
        .alias("priority"),
        F.when(F.col("changed"), F.col("u_from"))
        .otherwise(F.col("d_from"))
        .alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = F.when(
        F.col("changed") & F.col("d_pri").isNotNull(),
        F.struct(
            F.col("d_pri").alias("priority"),
            F.col("d_from").alias("valid_from"),
            F.col("u_from").alias("valid_to"),
            F.lit(False).alias("is_current"),
        ),
    )
    return (
        j.select("custkey", F.inline(F.array_compact(F.array(current, closed))))
        .orderBy("custkey", "is_current", "valid_from")
    )


# --------------------------------------------------------------------------- #
# q49: Z-ORDER layout key under oracle adjudication. The Morton key that      #
# sources/maintenance.zorder_by clusters by is a pure closed form —          #
# equal-width BIGINT bucketing then bit interleave — emitted for BOTH        #
# engines by the same generator (zvalue_sql, dialects differ only in the     #
# floor-div token), so the gate checks the actual layout computation         #
# bit-for-bit. That matters because a wrong z-value is SILENT: every scan    #
# still returns correct rows, it just stops skipping row groups — the       #
# pyarrow-measured pruning test (tests/test_maintenance.py) proves the      #
# layout works, this oracle proves it's the layout we specified. Price       #
# cents via FLOOR(x*100): identical IEEE product + floor on both engines    #
# (Spark CAST truncates where DuckDB CAST rounds — floor sidesteps the      #
# dialect trap).                                                             #
# --------------------------------------------------------------------------- #
def _q49_sql(dialect: str, orders: str = "orders") -> str:
    from ..sources.maintenance import zvalue_sql

    z = zvalue_sql(
        ["ck", "pc"],
        ["ck_min", "pc_min"],
        ["ck_max", "pc_max"],
        dialect=dialect,
    )
    return f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey AS ck,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc
        FROM {orders}
    ), stats AS (
        SELECT MIN(ck) AS ck_min, MAX(ck) AS ck_max,
               MIN(pc) AS pc_min, MAX(pc) AS pc_max
        FROM base
    )
    SELECT o_orderkey, ck, pc, CAST({z} AS BIGINT) AS zval
    FROM base, stats
    ORDER BY o_orderkey
    """


@query("q49_zorder_key", oracle=_q49_sql("duckdb"))
def q49_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("q49_orders")
    return spark.sql(_q49_sql("spark", orders="q49_orders"))


# --------------------------------------------------------------------------- #
# q50: mergeable HISTOGRAM-SKETCH quantile rollup — q41's pattern (sketch     #
# the facts ONCE at fine grain, answer coarse-grain questions from the        #
# sketch table) applied to quantiles, where Spark's percentile_approx has     #
# no storable/mergeable column form. The sketch is an equal-width BIGINT     #
# histogram (64 bins over price cents, the q49 bucket closed form): per-     #
# nation bin counts are 25x64 rows, regions MERGE nation histograms by       #
# summing bins — the fact table is NOT rescanned per drill-up — and the      #
# median is the smallest bin whose running count reaches half the total      #
# (window over <=64 rows/region). Everything integer ⇒ the gate checks the   #
# whole sketch->merge->quantile path bit-for-bit; resolution is the bin      #
# width (span/64), the documented sketch tradeoff. At 100 TB: one fact      #
# pass builds the histogram table; every later rollup/drill is dimension-   #
# sized arithmetic.                                                          #
# --------------------------------------------------------------------------- #
_Q50_BINS = 64


def _q50_sql(dialect: str, prefix: str = "") -> str:
    fdiv = {"spark": "div", "duckdb": "//"}[dialect]
    nb = _Q50_BINS
    return f"""
    WITH pc AS (
        SELECT o.o_orderkey, c.c_nationkey,
               CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM {prefix}orders o JOIN {prefix}customer c
          ON o.o_custkey = c.c_custkey
    ), stats AS (
        SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM pc
    ), nation_hist AS (
        SELECT c_nationkey,
               LEAST(((cents - lo) * {nb}) {fdiv} (hi - lo + 1), {nb - 1})
                   AS bin,
               COUNT(*) AS n
        FROM pc, stats
        GROUP BY 1, 2
    ), region_hist AS (
        SELECT n.n_regionkey, h.bin,
               CAST(SUM(h.n) AS BIGINT) AS n
        FROM nation_hist h JOIN {prefix}nation n
          ON h.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    , ranked AS (
        SELECT n_regionkey, bin, n, lo, hi,
               SUM(n) OVER (
                   PARTITION BY n_regionkey ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               SUM(n) OVER (PARTITION BY n_regionkey) AS total
        FROM region_hist, stats
    )
    SELECT n_regionkey AS regionkey,
           bin AS p50_bin,
           CAST(lo + (bin * (hi - lo + 1)) {fdiv} {nb} AS BIGINT)
               AS p50_lo_cents,
           CAST(total AS BIGINT) AS n_orders
    FROM ranked
    WHERE 2 * cum >= total AND 2 * (cum - n) < total
    ORDER BY regionkey
    """


@query("q50_histogram_quantile_rollup", oracle=_q50_sql("duckdb"))
def q50_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("orders", "customer", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(f"q50_{name}")
    return spark.sql(_q50_sql("spark", prefix="q50_"))


# --------------------------------------------------------------------------- #
# q51: windowed event FUNNEL — the product-analytics operator (ClickHouse's   #
# windowFunnel, Amplitude's conversion query) under EXPLICIT greedy-anchor    #
# semantics: anchor at the user's FIRST signup, then greedily take the        #
# earliest click at-or-after it and the earliest purchase at-or-after that;   #
# funnel_level = deepest step whose greedy timestamp falls within 24 h of     #
# the anchor. Greedy-from-first-anchor is deterministic and closed-form      #
# (three chained MIN-over-user windows — each references the previous        #
# window's column, all share ONE user_id partitioning so the corpus          #
# shuffles once); "best anchor" semantics would need per-user sequence       #
# search, which is what the deterministic contract here deliberately         #
# avoids. Time math in epoch MICROSECONDS on both engines (registry          #
# epoch_us — the events-ts dialect rule).                                    #
# --------------------------------------------------------------------------- #
_Q51_WINDOW_US = 86_400_000_000  # 24 hours


@query(
    "q51_event_funnel",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), s1 AS (
        SELECT *, MIN(CASE WHEN event_type = 'signup' THEN us END)
                      OVER (PARTITION BY user_id) AS t1 FROM ev
    ), s2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= t1 THEN us END)
                      OVER (PARTITION BY user_id) AS t2 FROM s1
    ), s3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= t2 THEN us END)
                      OVER (PARTITION BY user_id) AS t3 FROM s2
    )
    SELECT user_id,
           MIN(t1) AS signup_us,
           CASE WHEN MIN(t3) - MIN(t1) <= {_Q51_WINDOW_US} THEN 3
                WHEN MIN(t2) - MIN(t1) <= {_Q51_WINDOW_US} THEN 2
                WHEN MIN(t1) IS NOT NULL THEN 1
                ELSE 0 END AS funnel_level
    FROM s3
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q51_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .registry import epoch_us

    ev = t(spark, sf_dir, "events")
    ev = ev.select("user_id", "event_type", epoch_us(ev).alias("us"))
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).over(w),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("us") >= F.col("t1")),
                F.col("us"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") >= F.col("t2")),
                F.col("us"),
            )
        ).over(w),
    )
    agg = s3.groupBy("user_id").agg(
        F.min("t1").alias("signup_us"),
        F.min("t2").alias("__t2"),
        F.min("t3").alias("__t3"),
    )
    lvl = (
        F.when(F.col("__t3") - F.col("signup_us") <= _Q51_WINDOW_US, 3)
        .when(F.col("__t2") - F.col("signup_us") <= _Q51_WINDOW_US, 2)
        .when(F.col("signup_us").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        agg.select("user_id", "signup_us", lvl.alias("funnel_level"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------- #
# q52: DENSE time-series fill — q11 rolls up the hours that HAVE events;      #
# every charting/anomaly/forecast consumer needs the hours that don't        #
# (a missing row and a zero are different facts). The spine is generated     #
# INSIDE the plan — explode(sequence(lo, hi)) over the 1-row bounds          #
# aggregate crossed with the observed type dimension — so it is              #
# time-range-sized, never data-sized: the corpus contributes exactly one    #
# group-by; the fill join runs on two post-aggregate dimension-sized        #
# frames (Spark broadcasts the spine side). Hour indexes stay in the        #
# BIGINT epoch-hour domain (µs div 3600e9) — the q11 timezone lesson:       #
# date_trunc on NTZ promotes through the session timezone; integer          #
# arithmetic cannot.                                                         #
# --------------------------------------------------------------------------- #
@query(
    "q52_dense_hourly_fill",
    oracle="""
    WITH ev AS (
        SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type FROM events
    ), b AS (
        SELECT MIN(hour_idx) AS lo, MAX(hour_idx) AS hi FROM ev
    ), spine AS (
        SELECT unnest(range(lo, hi + 1)) AS hour_idx FROM b
    ), types AS (
        SELECT DISTINCT event_type FROM ev
    ), counts AS (
        SELECT hour_idx, event_type, COUNT(*) AS n
        FROM ev GROUP BY 1, 2
    )
    SELECT s.hour_idx, t.event_type, COALESCE(c.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_idx = s.hour_idx AND c.event_type = t.event_type
    ORDER BY s.hour_idx, t.event_type
    """,
)
def q52_dense_hourly_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import epoch_us

    ev = t(spark, sf_dir, "events")
    # positive-epoch corpus: plain div IS floor here; q11 keeps the
    # sign-safe form because its buckets feed timestamp reconstruction
    ev = ev.select(
        (epoch_us(ev) / F.lit(3_600_000_000)).cast("long").alias("hour_idx"),
        "event_type",
    )
    bounds = ev.agg(
        F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("hour_idx")
    ).crossJoin(ev.select("event_type").distinct())
    counts = ev.groupBy("hour_idx", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(counts, ["hour_idx", "event_type"], "left")
        .select(
            "hour_idx",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
        .orderBy("hour_idx", "event_type")
    )


# --------------------------------------------------------------------------- #
# q53: the SHUFFLE-SAFE null-aware anti join — q40 registers NOT IN as the    #
# planner's native NAAJ, which Spark can ONLY execute broadcast-side         #
# (BroadcastHashJoin LeftAnti + NAAJ flag — a correct refusal at scale:      #
# the build side must fit in executor memory, full stop).                    #
# This is the documented scale rewrite, REGISTERED under the IDENTICAL       #
# NOT IN oracle so the equivalence is driver-adjudicated, not claimed:       #
# tri-valued semantics decompose into one 1-row subquery stats broadcast     #
# (n rows / n non-null — decides the "subquery empty" and "subquery         #
# contains NULL" branches for ALL probe rows at once) + one plain equality   #
# LEFT ANTI join, which shuffles/sorts like any other join at 100 TB. The   #
# crafted-null branches (empty S keeps NULL probes; a NULL in S empties     #
# the result) are additionally unit-pinned against spark.sql's own NOT IN   #
# in tests/test_extensions.py.                                               #
# --------------------------------------------------------------------------- #
@query(
    "q53_null_aware_anti_shuffle",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % {_Q40_NULL_MOD} = 0 THEN NULL
                    ELSE c_custkey END AS probe_key
        FROM customer
    )
    SELECT c_custkey, c_name
    FROM c
    WHERE probe_key NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > {_Q40_PRICE_FLOOR}
    )
    ORDER BY c_custkey
    """,
)
def q53_null_aware_anti_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    probe = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % _Q40_NULL_MOD == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("probe_key"),
    )
    sub = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > _Q40_PRICE_FLOOR)
        .select("o_custkey")
    )
    return null_aware_anti_join(probe, sub, "probe_key", "o_custkey").select(
        "c_custkey", "c_name"
    ).orderBy("c_custkey")


def null_aware_anti_join(
    probe: DataFrame, sub: DataFrame, probe_col: str, sub_col: str
) -> DataFrame:
    """``probe WHERE probe_col NOT IN (SELECT sub_col FROM sub)`` without
    the broadcast-only NAAJ plan. Tri-valued NOT IN truth table, row kept
    iff the predicate is TRUE:

    * sub empty                     -> keep EVERY row (NULL probes too);
    * sub contains a NULL           -> keep NOTHING (predicate never TRUE);
    * else                          -> keep non-NULL probes not in sub.

    The first two branches collapse to one broadcast 1-row stats
    aggregate; the third is a plain equality LEFT ANTI join — the shape
    that shuffles at scale.

    Temp columns and the sub-side key are given names guaranteed absent
    from ``probe``, so the helper stays generic: ``probe_col == sub_col``
    and pre-existing ``__naaj*`` columns both resolve unambiguously."""
    taken = set(probe.columns)

    def fresh(base: str) -> str:
        name, i = base, 0
        while name in taken:
            i += 1
            name = f"{base}_{i}"
        taken.add(name)
        return name

    n_col = fresh("__naaj_n")
    nn_col = fresh("__naaj_n_nonnull")
    key_col = fresh("__naaj_key")
    stats = sub.agg(
        F.count(F.lit(1)).alias(n_col),
        F.count(sub_col).alias(nn_col),
    )
    keys = sub.select(F.col(sub_col).alias(key_col)).distinct()
    return (
        probe.crossJoin(F.broadcast(stats))
        .where(
            (F.col(n_col) == 0)
            | (
                F.col(probe_col).isNotNull()
                & (F.col(n_col) == F.col(nn_col))
            )
        )
        .join(keys, F.col(probe_col) == F.col(key_col), "left_anti")
        .drop(n_col, nn_col)
    )


# --------------------------------------------------------------------------- #
# q54: session PATH analysis — "what do users actually do, in order?" —       #
# the product-analytics sibling of q30 (same session rule: 30-min gap,       #
# same (us, event_id) tie order) and q51 (funnels check ONE hypothesized     #
# path; this surfaces the paths that exist). Each session's event stream     #
# slides a 3-step window (two LEADs over the (user, session) ordering —     #
# same partitioning the session numbering just built, so no extra           #
# shuffle), triples crossing a session boundary are dropped, and the        #
# corpus-wide triple counts come off one hash aggregate. Output is          #
# alphabet-bounded (|event_types|^3), never data-sized.                     #
# --------------------------------------------------------------------------- #
@query(
    "q54_session_paths",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, event_type, us,
               CASE WHEN us - LAG(us) OVER w > {SESSION_GAP_US}
                         OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    numbered AS (
        SELECT user_id, event_type, us, event_id,
               CAST(SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    ),
    paths AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w2 AS e2,
               LEAD(event_type, 2) OVER w2 AS e3
        FROM numbered
        WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY us, event_id)
    )
    SELECT e1, e2, e3, COUNT(*) AS n_paths
    FROM paths
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    """,
)
def q54_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    ev = events.select(
        "user_id", "event_id", "event_type", epoch_us(events).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = (
        ev.withColumn(
            "new_sess",
            F.when(
                F.lag("us").over(w).isNull()
                | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy("us", "event_id")
    paths = numbered.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    )
    return (
        paths.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
    )


# --------------------------------------------------------------------------- #
# q55: corpus SNAPSHOT DIFF — dataset versioning's core operator: "between    #
# crawl N and crawl N+1, what was added, removed, changed?" A training       #
# pipeline re-ingesting a 100 TB corpus answers this BEFORE deciding what    #
# to re-process (the chunker's incremental posture applied to versions).     #
#                                                                            #
# Plan shape: one FULL OUTER shuffle join on the key — the minimal correct   #
# form (both sides must be seen once; anything cheaper needs source-level    #
# change capture) — with null-safe per-column comparison deciding 'changed'  #
# in the same stage; unchanged rows are dropped BEFORE any downstream        #
# consumer, so output is delta-sized, not corpus-sized. The registered      #
# query derives version 2 from orders with closed-form integer edits, so    #
# the oracle states the expected classification exactly.                     #
# --------------------------------------------------------------------------- #
def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: "list[str]"
) -> DataFrame:
    """(key, status) rows for every key whose presence or compared values
    differ between ``old`` and ``new``; status in added/removed/changed.
    Unchanged keys are absent. Collision-proof temp names, same stance as
    null_aware_anti_join."""
    from functools import reduce as _reduce

    o = old.select(
        F.col(key).alias("__snap_k_old"),
        *[F.col(c).alias(f"__snap_o_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key).alias("__snap_k_new"),
        *[F.col(c).alias(f"__snap_n_{c}") for c in compare_cols],
    )
    changed = _reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"__snap_o_{c}").eqNullSafe(F.col(f"__snap_n_{c}"))
            for c in compare_cols
        ],
    )
    status = (
        F.when(F.col("__snap_k_old").isNull(), F.lit("added"))
        .when(F.col("__snap_k_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        o.join(n, F.col("__snap_k_old") == F.col("__snap_k_new"), "full_outer")
        .select(
            F.coalesce("__snap_k_old", "__snap_k_new").alias(key),
            status.alias("status"),
        )
        .where(F.col("status").isNotNull())
    )


_Q55_ADD_OFFSET = 10_000_000_000


@query(
    "q55_snapshot_diff",
    oracle=f"""
    WITH v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + {_Q55_ADD_OFFSET}, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 83 = 0
    ), j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         THEN 'changed' END AS status
        FROM orders o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, status FROM j
    WHERE status IS NOT NULL
    ORDER BY o_orderkey
    """,
)
def q55_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1 = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2 = (
        v1.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionAll(
            v1.where(F.col("o_orderkey") % 83 == 0).select(
                (F.col("o_orderkey") + _Q55_ADD_OFFSET).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    return snapshot_diff(
        v1, v2, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------- #
# q56: RELATIONAL DIVISION — "which customers have orders in EVERY order      #
# status?" — the classic ∀-quantified query (Codd's divide), the one SQL     #
# shape the assumed-surface inventory (SURVEY.md §2.B) had no entry for.     #
# The textbook form is a double-negated NOT EXISTS; the form that SCALES is  #
# the count-matching rewrite: one distinct-count aggregate per customer      #
# compared against the 1-row universe count — a single fact shuffle plus a  #
# broadcast, no correlated subquery, no quadratic anti join.                  #
# --------------------------------------------------------------------------- #
@query(
    "q56_relational_division",
    oracle="""
    WITH u AS (SELECT COUNT(DISTINCT o_orderstatus) AS n_statuses FROM orders)
    SELECT o.o_custkey, c.c_name,
           CAST(COUNT(DISTINCT o.o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey, c.c_name
    HAVING COUNT(DISTINCT o.o_orderstatus) = (SELECT n_statuses FROM u)
    ORDER BY o_custkey
    """,
)
def q56_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    universe = orders.agg(
        F.countDistinct("o_orderstatus").alias("__n_univ")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderstatus").alias("n_statuses"))
        .crossJoin(F.broadcast(universe))
        .where(F.col("n_statuses") == F.col("__n_univ"))
    )
    return (
        per_cust.join(
            F.broadcast(customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_custkey", "c_name", F.col("n_statuses").cast("long"))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------- #
# q57: GAPS-AND-ISLANDS over the order-key space — contiguous id runs via     #
# the id - ROW_NUMBER() grouping constant (the canonical islands idiom:      #
# consecutive ids share the difference): the "where do rows actually live"  #
# map of a sparse id space, whose gaps the chunk loop's COUNT probe skips.   #
# One global window — acceptable because the input is the DISTINCT KEY      #
# column, and at 100 TB the same computation routes through the two-phase   #
# global rank (functions/prefix.py) exactly like sp06/tx22.                  #
# --------------------------------------------------------------------------- #
_Q57_SPARSE_MOD = 7  # knock out ~1/7 of keys so islands are non-trivial


@query(
    "q57_id_islands",
    oracle=f"""
    WITH k AS (
        SELECT o_orderkey AS id FROM orders WHERE o_orderkey % {_Q57_SPARSE_MOD} != 0
    ), g AS (
        SELECT id, id - ROW_NUMBER() OVER (ORDER BY id) AS grp FROM k
    )
    SELECT MIN(id) AS island_start, MAX(id) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_ids
    FROM g GROUP BY grp
    ORDER BY island_start
    """,
)
def q57_id_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % _Q57_SPARSE_MOD != 0)
        .select(F.col("o_orderkey").alias("id"))
    )
    return id_islands(keys, "id")


from ..functions.prefix import TIERED_RANK_MIN_ROWS as ISLANDS_TWO_PHASE_MIN_KEYS  # noqa: E501 — re-export for callers


def id_islands(
    keys: DataFrame,
    id_name: str,
    two_phase_min_keys: int = ISLANDS_TWO_PHASE_MIN_KEYS,
) -> DataFrame:
    """(island_start, island_end, n_ids) for the maximal contiguous runs
    of ``keys[id_name]`` (assumed distinct).

    The global ROW_NUMBER rides the SHARED tiered rank
    (:func:`functions.prefix.tiered_global_rank` — one fast
    single-partition window below the threshold, measured 0.48 s vs
    1.76 s for the always-two-phase form at sf0.1; the range-partitioned
    rewrite past it, so no single task ever holds the key column). The
    helper persists the slim key frame, so the tier-gate count, the rank
    and the islands aggregate share one scan."""
    from ..functions.prefix import tiered_global_rank

    ranked = tiered_global_rank(
        keys.select(id_name), [id_name], unique_cols=[id_name],
        out_col="__rn", min_rows=two_phase_min_keys,
    )
    return (
        ranked.select(
            F.col(id_name), (F.col(id_name) - F.col("__rn")).alias("__grp")
        )
        .groupBy("__grp")
        .agg(
            F.min(id_name).alias("island_start"),
            F.max(id_name).alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_ids"),
        )
        .drop("__grp")
        .orderBy("island_start")
    )


# --------------------------------------------------------------------------- #
# q58: PERCENT-OF-TOTAL (ratio_to_report) — each nation's share of its        #
# region's revenue. The cross-engine trap is the DIVISION (decimal scale/    #
# rounding dialects differ), so the share ships as exact BIGINT basis        #
# points over CENTS: both engines aggregate DECIMAL(12,2), multiply to      #
# integral cents, and divide with integer div — hash-identical by           #
# construction. The share window re-shuffles the AGGREGATE (25 nation      #
# rows) onto region — an Exchange the fingerprint records, but one over    #
# alphabet-sized data; the corpus is scanned exactly once.                   #
# --------------------------------------------------------------------------- #
@query(
    "q58_revenue_share",
    oracle="""
    WITH nat AS (
        SELECT n.n_regionkey, n.n_name,
               SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS nat_rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT r.r_name, nat.n_name,
           CAST(nat.nat_rev * 100 AS BIGINT) AS nat_rev_cents,
           CAST(CAST(nat.nat_rev * 100 AS BIGINT) * 10000
                // CAST(SUM(nat.nat_rev * 100) OVER
                        (PARTITION BY nat.n_regionkey) AS BIGINT)
             AS BIGINT) AS share_bp
    FROM nat JOIN region r ON r.r_regionkey = nat.n_regionkey
    ORDER BY r.r_name, nat.n_name
    """,
)
def q58_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(dec2("o_totalprice")).alias("nat_rev"))
    )
    w = Window.partitionBy("n_regionkey")
    return (
        nat.withColumn(
            "share_bp",
            F.expr(
                "CAST(CAST(nat_rev * 100 AS BIGINT) * 10000 "
                "div CAST(sum(nat_rev * 100) OVER "
                "(PARTITION BY n_regionkey) AS BIGINT) AS BIGINT)"
            ),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            "n_name",
            # exact integer cents — a DECIMAL output column stringifies
            # with different trailing-zero rules across engines
            F.expr("CAST(nat_rev * 100 AS BIGINT)").alias("nat_rev_cents"),
            "share_bp",
        )
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------- #
# q59: ORDERED STRING AGGREGATION (LISTAGG / string_agg) — the report-        #
# friendly "collapse a group to a delimited list" shape. Cross-engine        #
# determinism requires pinning BOTH the element set and the order: Spark's  #
# collect_set/collect_list are partitioning-order-dependent, so the list    #
# is sorted IN-PLAN (sort_array over the distinct set) before joining —     #
# matching the oracle's string_agg(DISTINCT ... ORDER BY). Aggregate state  #
# is the distinct set (bounded by the value domain, here market segments),  #
# so the shuffle carries sets, not rows.                                     #
# --------------------------------------------------------------------------- #
@query(
    "q59_segment_listagg",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(DISTINCT c.c_mktsegment) AS BIGINT) AS n_segments,
           string_agg(DISTINCT c.c_mktsegment, ',' ORDER BY c.c_mktsegment)
               AS segments_csv
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q59_segment_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), ","
            ).alias("segments_csv"),
        )
        .orderBy("n_name")
    )
