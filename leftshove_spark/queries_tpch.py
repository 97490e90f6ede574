"""Round-3 TPC-H plan-shape breadth (adapted to the fixture's tables —
no partsupp, no comment/phone/date-pair columns; each query keeps the
ORIGINAL's distinctive plan shape on the columns that exist).

Shapes covered here and nowhere else in the battery:
- Q13: outer join with a join-side predicate + two-level count histogram
- Q15: agg → global-max scalar → equality join back (view + max-of-agg)
- Q16: NOT IN anti join + multi-key COUNT DISTINCT
- Q17: per-group scalar average subquery gating a fact filter
- Q21: EXISTS + NOT EXISTS against the same fact at different aliases
- Q22: global scalar subquery threshold + anti join on a filtered child

Monetary aggregates use the int64-cents fixed-point path (see
queries._cents): exact, order-independent, whole-stage-codegen — final
outputs descale to double so both engines do the identical exact-int →
IEEE conversion.

Scalar subqueries (Q15's max, Q22's avg) join back via a BROADCAST
single-row aggregate on a constant key — a BroadcastHashJoin the fact
side never shuffles for, the scale-safe alternative to collecting the
scalar to the driver (which would split the query into two jobs and
bake a stale value into the plan).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _cents, _cents_sql, _disc_price_cents, _maybe_broadcast, _q
from .sources import load_table

_DPC_SQL = f"{_cents_sql('l_extendedprice')} * (100 - {_cents_sql('l_discount')})"


@_q(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape — LEFT OUTER join whose predicate lives ON the
    join (not a post-filter: an urgent-only customer must still appear
    with count 0), then a two-level aggregation: per-customer order
    count → histogram of counts. Both aggs hash-partition on their key
    with map-side partial agg; the second agg's input is one row per
    customer, so the histogram shuffle is tiny. count(col) counts only
    non-null join matches — the outer-join null encodes zero."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_q(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, sum({_DPC_SQL}) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(rev_c AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev_c = (SELECT max(rev_c) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape — revenue view, global MAX of the view, equality
    join back to find the top supplier(s). The scalar max is a one-row
    aggregate broadcast onto the view via a constant-key
    BroadcastHashJoin — no driver round-trip, no re-scan of lineitem
    (the view aggregates once; Spark reuses the shuffle for both the
    max and the filter branches under AQE). Revenue compares in EXACT
    int64 cents — a double-equality join on a float sum would be
    flaky; the exact path makes 'equals the max' well-defined."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1996, 4, 1)))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price_cents()).alias("rev_c"))
    mx = rev.agg(F.max("rev_c").alias("mx")).withColumn("k", F.lit(1))
    s = load_table(spark, sf, "supplier")
    return (
        rev.withColumn("k", F.lit(1))
        .join(F.broadcast(mx), "k")
        .filter(F.col("rev_c") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@_q(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type NOT LIKE 'STANDARD%'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN → LEFT ANTI join (legal because
    s_suppkey is non-null; the null-semantics trap of NOT IN doesn't
    bite) against a filtered supplier list, then COUNT DISTINCT per
    (brand, size). The anti list and part are both dimension-sized →
    broadcast; lineitem never shuffles until the final distinct-agg,
    which Spark executes as expand + two-phase partial agg (never a
    driver-side distinct)."""
    li = load_table(spark, sf, "lineitem")
    bad = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = load_table(spark, sf, "part").filter(~F.col("p_type").like("STANDARD%"))
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(_maybe_broadcast(p, sf, "part"), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q17_small_quantity_revenue",
    f"""
    WITH pa AS (
      SELECT l_partkey, CAST(sum({_cents_sql("l_quantity")}) AS DOUBLE) / count(*)
               AS avg_qty_c
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum({_cents_sql("l.l_extendedprice")}) AS DOUBLE) / 100.0 / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE {_cents_sql("l.l_quantity")} < 0.2 * pa.avg_qty_c
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape — correlated per-part AVG subquery gating the
    fact filter, decorrelated to an aggregate + equi-join back on
    partkey. Both the per-part agg and the join hash on l_partkey, so
    ONE logical partitioning carries the whole query (no second
    shuffle); part is broadcast behind the footer-stats gate. The
    average is exact-int-sum ÷ count in IEEE double on both engines, so
    the 0.2·avg threshold is deterministic."""
    li = load_table(spark, sf, "lineitem")
    # pa's key is renamed so the join predicate compares two distinct
    # attributes, not l_partkey with itself
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.sum(_cents("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty_c"
        )
    )
    p = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    return (
        li.join(_maybe_broadcast(p, sf, "part"), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pa_partkey)
        .filter(_cents("l_quantity") < 0.2 * F.col("avg_qty_c"))
        .agg(
            (F.sum(_cents("l_extendedprice")).cast("double") / 100.0 / 7.0).alias(
                "avg_yearly"
            )
        )
    )


@_q(
    "q21_latest_shipper",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    """,
)
def q21_latest_shipper(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (receipt/commit dates absent → 'the supplier who
    shipped LAST in a multi-supplier order') — EXISTS and NOT EXISTS
    against the SAME fact table at different aliases: LEFT SEMI then
    LEFT ANTI, both hash-joined on l_orderkey with residual non-equi
    predicates (different-supplier, later-shipdate). All three fact
    joins share the orderkey partitioning; supplier and orders are
    dimension/broadcast sides. No row multiplication: semi/anti emit
    each l1 row at most once."""
    li = load_table(spark, sf, "lineitem")
    l1 = li.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_suppkey", "l_shipdate").alias("l3")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf, "supplier")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(_maybe_broadcast(s, sf, "supplier"), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_q(
    "q22_dormant_customers",
    f"""
    WITH avg_bal AS (
      SELECT CAST(sum({_cents_sql("c_acctbal")}) AS DOUBLE) / count(*) AS ac
      FROM customer WHERE c_acctbal > 0)
    SELECT c.c_mktsegment,
           count(*) AS numcust,
           CAST(sum({_cents_sql("c.c_acctbal")}) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer c, avg_bal
    WHERE {_cents_sql("c.c_acctbal")} > avg_bal.ac
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (no phone column → 'above-average-balance
    customers who never placed an urgent order', per segment) — a
    GLOBAL scalar average as the filter threshold plus an anti join on
    a filtered child. The scalar is a one-row aggregate broadcast on a
    constant key (BroadcastHashJoin; customer never shuffles for it);
    the threshold compares exact-int cents against the exact-sum ÷
    count double identically in both engines. The NOT EXISTS is a LEFT
    ANTI hash join on custkey."""
    c = load_table(spark, sf, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_cents("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("ac")
        )
        .withColumn("k", F.lit(1))
    )
    urgent = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.withColumn("k", F.lit(1))
        .join(F.broadcast(avg_bal), "k")
        .filter(_cents("c_acctbal") > F.col("ac"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(_cents("c_acctbal")).cast("double") / 100.0).alias("totacctbal"),
        )
    )


@_q(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(vol_c) AS DOUBLE) / 10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year, {_DPC_SQL.replace("l_", "l.l_")} AS vol_c
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral nation-pair volume by ship year: a
    5-way join where BOTH fact-side dimensions (supplier+nation,
    customer+nation) are filtered by a disjunctive cross-pair
    predicate. The two nation-filtered dim chains broadcast; the only
    fact shuffles are lineitem→orders on orderkey and →customer on
    custkey (the unavoidable pair), then a tiny 3-key agg. The pair
    predicate applies post-join (it references both sides) but the
    single-nation prefilters (n_name IN {{a, b}}) are pushed onto each
    chain before the fact join, shrinking both broadcast sides."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    na, nb = "NATION_3", "NATION_7"
    n = load_table(spark, sf, "nation").filter(F.col("n_name").isin(na, nb))
    s = (
        load_table(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(_maybe_broadcast(s, sf, "supplier"), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(_maybe_broadcast(c, sf, "customer"), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == na) & (F.col("cust_nation") == nb))
            | ((F.col("supp_nation") == nb) & (F.col("cust_nation") == na))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(_disc_price_cents()) / F.lit(10000.0)).alias("revenue"))
    )


@_q(
    "q12_shipmode_priority",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column → linestatus carries the
    grouping) — CONDITIONAL aggregation: two complementary CASE-sums in
    one pass over the join, the pattern that replaces two filtered
    subqueries with a single scan+join. One orderkey shuffle, then a
    2-group agg; the year filter prunes at the lineitem scan."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 1, 1)))
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_q(
    "x_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
      GROUP BY e.user_id)
    SELECT count(*) AS n_viewers,
           count(p.user_id) AS n_converted,
           CAST(sum(CASE WHEN p.first_purchase <= v.first_view + INTERVAL 7 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_7d,
           CAST(count(p.user_id) AS DOUBLE) / count(*) AS conv_rate
    FROM v LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def x_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel analysis over the event stream: view → purchase
    conversion, ordered in event time (the purchase must FOLLOW the
    user's first view), with a 7-day-window completion count. Shape:
    two per-user aggregations and one left join, all hash-partitioned
    on user_id — ONE logical partitioning carries the whole funnel, and
    the final global rollup is a single row. Timestamp arithmetic stays
    exact cross-engine (fixture timestamps are micro-granular; both
    engines compare identical instants)."""
    ev = load_table(spark, sf, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    joined = v.join(p, "user_id", "left")
    in7 = F.col("first_purchase") <= F.col("first_view") + F.expr("INTERVAL 7 DAYS")
    return joined.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("first_purchase").alias("n_converted"),
        F.sum(F.when(in7, 1).otherwise(0)).alias("n_converted_7d"),
        (F.count("first_purchase").cast("double") / F.count(F.lit(1))).alias(
            "conv_rate"
        ),
    )


@_q(
    "x_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS wk
      FROM events e JOIN firsts f ON f.user_id = e.user_id)
    SELECT cohort,
           CAST(datediff('day', cohort, wk) / 7 AS BIGINT) AS week_no,
           count(*) AS n_users
    FROM act GROUP BY cohort, week_no
    """,
)
def x_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent active week. Both date_trunc('week')
    implementations are ISO (Monday) so cohorts align; the week offset
    is an exact integer (day difference between two week-truncated
    instants is always a multiple of 7). Shape: per-user first-event
    agg, join back, distinct (user, week), then the matrix agg — the
    user_id partitioning is reused across the first three."""
    ev = load_table(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = (
        ev.join(firsts, "user_id")
        .select("user_id", "cohort", F.date_trunc("week", "ts").alias("wk"))
        .distinct()
    )
    return (
        act.withColumn(
            "week_no", (F.datediff("wk", "cohort") / 7).cast("long")
        )
        .groupBy("cohort", "week_no")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_q(
    "w19_nav_battery",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_v,
           nth_value(value, 3) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w19_nav_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Positional navigation functions w15 doesn't cover: first_value
    over the default running frame, last_value and nth_value over the
    FULL partition frame (the default frame would make last_value ≡
    the current row — the classic window gotcha, made explicit here on
    both engines). Values are copied, not aggregated, so doubles hash
    exactly; (ts, event_id) totalizes the order. One user_id shuffle,
    one sort, every function on the same window chain."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(wfull).alias("last_v"),
        F.nth_value("value", 3).over(wfull).alias("third_v"),
    )


@_q(
    "w15_window_battery",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS running_value,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS moving3_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w15_window_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function battery per user in event-time order: row_number,
    lag/lead, a running total, and a 3-row moving sum — the navigation +
    frame surface in one pass. ONE shuffle on user_id serves every
    window (identical partitioning + ordering), which is exactly how to
    author multi-window queries at scale: align the specs so Catalyst
    plans a single Window operator chain after a single sort. Frame
    sums run in exact int64 cents — engines disagree on float
    accumulation order inside sliding frames (segment trees vs
    rescans), so exact integers are the only safely comparable frame
    aggregate; the tiebreaking (ts, event_id) order makes lag/lead
    total."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.sum(cents).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("double") / 100.0
         ).alias("running_value"),
        (F.sum(cents).over(w.rowsBetween(-2, 0)).cast("double") / 100.0
         ).alias("moving3_value"),
    )


@_q(
    "o6_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS gid,
           count(*) AS n,
           CAST(sum({_cents_sql("l_quantity")}) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def o6_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind ROLLUP/CUBE, with
    a hand-picked set list) + grouping() to disambiguate NULL-as-ALL
    from NULL-as-value. Same one-pass physical shape as rollup: map-side
    Expand to 3 grouping projections, then a single partial-agg shuffle
    of O(groups), not O(rows × sets)."""
    li = load_table(spark, sf, "lineitem")
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("long")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents("l_quantity")).cast("double") / 100.0).alias("sum_qty"),
        )
    )


@_q(
    "c16_json_null_battery",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing,
           coalesce(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1)
             AS k_defaulted,
           nullif(event_type, 'error') AS et_no_error,
           (nullif(event_type, 'error') IS NOT DISTINCT FROM
            nullif(event_type, 'click')) AS ns_eq,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
)
def c16_json_null_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction + NULL-semantics battery: JSON path
    extraction from the props column (present and missing paths),
    COALESCE defaulting, NULLIF null-injection, and NULL-SAFE equality
    (<=> ⇔ IS NOT DISTINCT FROM) — the null-handling surface where
    engines classically diverge, pinned here to identical behavior.
    get_json_object is pure codegen; scan → project, zero shuffles."""
    ev = load_table(spark, sf, "events")
    a = F.nullif(F.col("event_type"), F.lit("error"))
    b = F.nullif(F.col("event_type"), F.lit("click"))
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.get_json_object("props", "$.missing").cast("long").alias("k_missing"),
        F.coalesce(
            F.get_json_object("props", "$.missing").cast("long"), F.lit(-1)
        ).alias("k_defaulted"),
        a.alias("et_no_error"),
        a.eqNullSafe(b).alias("ns_eq"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


# =========================================================================
# Round-7: the five TPC-H shapes the battery lacked (Q2/Q8/Q9/Q11/Q20).
# The fixture has no partsupp table, so the part↔supplier relation is
# DERIVED from lineitem (distinct shipped pairs + min unit price) — each
# query keeps its original's distinctive plan shape on that derived
# relation.
# =========================================================================

_UNIT_COST_SQL = (
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE) / l_quantity"
)


@_q(
    "q2_min_cost_supplier",
    f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey, min({_UNIT_COST_SQL}) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    esupp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'),
    eu AS (
      SELECT sp.l_partkey, sp.l_suppkey, sp.unit_cost
      FROM supply sp JOIN esupp e ON e.s_suppkey = sp.l_suppkey),
    best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost FROM eu GROUP BY l_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_type, eu.unit_cost
    FROM eu
    JOIN best ON best.l_partkey = eu.l_partkey
             AND eu.unit_cost = best.best_cost
    JOIN esupp e ON e.s_suppkey = eu.l_suppkey
    JOIN part p ON p.p_partkey = eu.l_partkey
    WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape — minimum-cost supplier per part within a region,
    i.e. a CORRELATED MIN subquery re-expressed as a window min (the
    scale-safe form: one extra window pass over the already-partitioned
    supply relation instead of a self-join back to a re-aggregation).
    The part↔supplier "catalog" is derived from lineitem: min unit
    price per distinct shipped (part, supplier) pair — one shuffle on
    that composite key, then dimension joins (region-filtered supplier
    list, size/type-filtered part) broadcast so the derived relation
    never reshuffles. Cost equality is well-defined cross-engine: the
    unit price is an exact int64-cents value divided by an integral
    quantity — both engines run the identical IEEE divide and the
    window min SELECTS one of those bit-identical doubles."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf, "lineitem")
    unit_cost = _cents("l_extendedprice").cast("double") / F.col("l_quantity")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cost).alias("unit_cost")
    )
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    esupp = (
        load_table(spark, sf, "supplier")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        load_table(spark, sf, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_type")
    )
    eu = supply.join(
        _maybe_broadcast(esupp, sf, "supplier"),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).join(_maybe_broadcast(p, sf, "part"), F.col("l_partkey") == F.col("p_partkey"))
    w = W.partitionBy("l_partkey")
    return (
        eu.withColumn("best_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "unit_cost")
    )


@_q(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT year(o.o_orderdate) AS o_year,
             {_DPC_SQL} AS volume_c,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume_c
                    ELSE 0 END) AS DOUBLE)
           / CAST(sum(volume_c) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: an 8-table star join
    (fact + two independent nation lookups under different roles +
    region/part/customer/supplier dims) feeding a conditional-ratio
    aggregation per year. All dimension sides broadcast (gated on
    footer-stats row counts), so lineitem shuffles exactly once — for
    the orderkey join — and the 2-group final agg is map-side partial.
    The ratio divides two EXACT int64 fixed-point sums cast to double,
    so both engines do one identical IEEE divide per group; numerator
    selection (CASE on the supplier-role nation) happens inside the
    same single aggregation pass."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1995, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 1, 1)))
    )
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    cust_n = (
        load_table(spark, sf, "customer")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_n = (
        load_table(spark, sf, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    vol = (
        li.join(_maybe_broadcast(p, sf, "part"), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            _maybe_broadcast(cust_n, sf, "customer"),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            _maybe_broadcast(supp_n, sf, "supplier"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            _disc_price_cents().alias("volume_c"),
            "supp_nation",
        )
    )
    is_n5 = F.col("supp_nation") == "NATION_5"
    return vol.groupBy("o_year").agg(
        (
            F.sum(F.when(is_n5, F.col("volume_c")).otherwise(F.lit(0))).cast("double")
            / F.sum("volume_c").cast("double")
        ).alias("mkt_share")
    )


@_q(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum({_DPC_SQL}
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT) * 100) AS DOUBLE)
           / 10000.0 AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by nation and year. The
    original prices cost from partsupp; the fixture derives it from the
    part's retail price (cost = retailprice × quantity), which keeps the
    distinctive shape: a 5-table join where the MEASURE mixes columns
    from three tables (lineitem price/discount/quantity, part cost,
    orders year) and aggregates on a (dimension, derived-year) pair.
    Profit is computed per row in exact int64 fixed point at scale 10^4
    (both engines sum identical integers in any order) and descaled to
    double once per group. Part prunes on the LIKE filter at the scan;
    all dimension sides broadcast, so lineitem shuffles only on
    orderkey, then the final small agg."""
    li = load_table(spark, sf, "lineitem")
    p = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_n = (
        load_table(spark, sf, "supplier")
        .join(
            F.broadcast(load_table(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    amount_c = _disc_price_cents() - _cents("p_retailprice") * F.col(
        "l_quantity"
    ).cast("long") * F.lit(100).cast("long")
    return (
        li.join(_maybe_broadcast(p, sf, "part"), li.l_partkey == F.col("p_partkey"))
        .join(
            _maybe_broadcast(supp_n, sf, "supplier"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(amount_c).cast("double") / 10000.0).alias("profit"))
    )


@_q(
    "q11_important_parts",
    f"""
    WITH val AS (
      SELECT l.l_partkey AS part_key, sum({_DPC_SQL}) AS value_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_11'
      GROUP BY l.l_partkey)
    SELECT part_key, CAST(value_c AS DOUBLE) / 10000.0 AS value
    FROM val, (SELECT sum(value_c) AS total_c FROM val) t
    WHERE CAST(value_c AS DOUBLE) > 0.001 * CAST(total_c AS DOUBLE)
    """,
)
def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape — parts representing a significant fraction of a
    nation's shipped value: a grouped aggregate filtered against a
    GLOBAL SCALAR subquery over the same aggregate. The scalar total is
    a one-row re-aggregation of the grouped result, broadcast back onto
    it via a constant-key join (q15's pattern — no driver round-trip,
    and AQE reuses the grouped shuffle for both branches instead of
    re-scanning lineitem). Value sums are exact int64 fixed point; the
    threshold compares double-casts of exact integers, identical IEEE
    on both engines. The nation filter reaches the supplier dim before
    its broadcast, so lineitem is filtered map-side and shuffles only
    the matching subset on partkey."""
    li = load_table(spark, sf, "lineitem")
    supp = (
        load_table(spark, sf, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf, "nation").filter(
                    F.col("n_name") == "NATION_11"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        li.join(
            _maybe_broadcast(supp, sf, "supplier"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.sum(_disc_price_cents()).alias("value_c"))
    )
    total = val.agg(F.sum("value_c").alias("total_c")).withColumn("k", F.lit(1))
    return (
        val.withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .filter(
            F.col("value_c").cast("double")
            > F.lit(0.001) * F.col("total_c").cast("double")
        )
        .select(
            "part_key", (F.col("value_c").cast("double") / 10000.0).alias("value")
        )
    )


@_q(
    "q20_heavy_shippers",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM red_parts)
      GROUP BY l_partkey, l_suppkey),
    tot AS (
      SELECT l_partkey, sum(qty) AS tot_qty FROM shipped GROUP BY l_partkey),
    heavy AS (
      SELECT DISTINCT sh.l_suppkey
      FROM shipped sh JOIN tot t ON t.l_partkey = sh.l_partkey
      WHERE CAST(sh.qty AS DOUBLE) > 0.5 * CAST(t.tot_qty AS DOUBLE))
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers holding a dominant share of a part's
    flow: nested aggregation (per part+supplier, then per part), a
    ratio filter between the two levels, and a SEMI-JOIN chain lifting
    the surviving supplier keys onto the supplier dimension. The
    per-part total is a window sum over the already-grouped relation
    (no self-join, no second lineitem scan); the date + part-name
    filters prune at the scan (part list broadcast). The final IN
    becomes a LEFT SEMI join — supplier never duplicates rows no matter
    how many parts a supplier dominates. Quantity sums are exact int64;
    the 50% threshold compares double-casts of exact ints."""
    from pyspark.sql import Window as W

    red = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 1, 1)))
    )
    shipped = (
        li.join(_maybe_broadcast(red, sf, "part"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    w = W.partitionBy("l_partkey")
    heavy = (
        shipped.withColumn("tot_qty", F.sum("qty").over(w))
        .filter(
            F.col("qty").cast("double") > F.lit(0.5) * F.col("tot_qty").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


@_q(
    "c17_temporal_battery",
    """
    SELECT event_id,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS ts_month,
           date_trunc('hour', ts) AS ts_hour,
           year(ts) AS y, quarter(ts) AS q, month(ts) AS m,
           day(ts) AS dom, hour(ts) AS hh, minute(ts) AS mi, second(ts) AS ss,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS days_since,
           CAST(CAST(ts AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
           CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS month_end,
           weekofyear(ts) AS iso_week,
           isodow(ts) AS iso_dow
    FROM events
    """,
)
def c17_temporal_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal-scalar battery over the event stream: truncation, field
    extraction, epoch seconds, day arithmetic, month arithmetic with
    end-of-month clamping, last-day, and the ISO week/dow pair — the
    calendar surface where engines classically diverge, pinned to
    identical cross-engine behavior. Convention notes baked into the
    pairings: Spark's weekday() is Monday=0 (DuckDB isodow is
    Monday=1, hence the +1); date outputs are emitted as TIMESTAMP
    because the driver's pandas fetch widens DuckDB DATE to
    datetime64 — a bare DATE column would hash-mismatch Spark's
    datetime.date stringification even with equal values (the
    test_oracle_types lint now flags DATE for exactly that reason).
    Pure codegen projection, zero shuffles."""
    ev = load_table(spark, sf, "events")
    d = F.col("ts").cast("date")
    return ev.select(
        "event_id",
        F.date_trunc("month", F.col("ts")).alias("ts_month"),
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("dom"),
        F.hour("ts").alias("hh"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("ss"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.datediff(d, F.to_date(F.lit("1995-01-01"))).alias("days_since"),
        F.add_months(d, 3).cast("timestamp").alias("plus3m"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.weekofyear("ts").alias("iso_week"),
        (F.weekday("ts") + F.lit(1)).alias("iso_dow"),
    )


@_q(
    "c19_math_battery",
    """
    SELECT o_orderkey,
           abs(o_totalprice - 100000.0) AS abs_diff,
           CAST(ceiling(o_totalprice) AS BIGINT) AS ceil_p,
           CAST(floor(o_totalprice) AS BIGINT) AS floor_p,
           CAST(sign(o_totalprice - 100000.0) AS DOUBLE) AS sgn,
           o_custkey % 7 AS mod7,
           sqrt(o_totalprice) AS sqrt_p,
           greatest(o_totalprice, 100000.0) AS hi,
           least(o_totalprice, 100000.0) AS lo
    FROM orders
    """,
)
def c19_math_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Math scalars restricted to the CROSS-ENGINE-EXACT subset:
    abs/ceil/floor/sign/mod/greatest/least are value-level operations
    and sqrt is a correctly-rounded IEEE primitive, so every output
    hashes bit-identically. Deliberately ABSENT: round() on doubles
    (Spark HALF_UP vs DuckDB HALF_EVEN — the engine's monetary path
    handles rounding explicitly in int64 cents instead), and the
    transcendental family (exp/ln/pow are not correctly-rounded and
    drift in the last ulp across libm implementations — where needed,
    the fixed-point tf-idf weights show the exact alternative). Pure
    codegen, zero shuffles."""
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_diff"),
        F.ceil("o_totalprice").alias("ceil_p"),
        F.floor("o_totalprice").alias("floor_p"),
        F.signum(F.col("o_totalprice") - 100000.0).alias("sgn"),
        (F.col("o_custkey") % 7).alias("mod7"),
        F.sqrt("o_totalprice").alias("sqrt_p"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("hi"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("lo"),
    )


@_q(
    "c18_string_battery",
    """
    SELECT doc_id,
           substr(text, 3, 40) AS sub,
           strpos(text, 'e') AS first_e,
           lpad(lang, 5, '_') AS lang_pad,
           rpad(source, 8, '.') AS src_pad,
           translate(lang, 'aeiou', 'AEIOU') AS lang_vow,
           repeat(lang, 2) AS lang2,
           reverse(source) AS src_rev,
           upper(lang) AS lang_up,
           trim(concat(' ', lang, ' ')) AS lang_trim,
           levenshtein(lang, 'en') AS lev_en,
           ascii(substr(source, 1, 1)) AS src_ascii,
           printf('%s_%d', lang, CAST(n_chars AS BIGINT)) AS tagged,
           regexp_extract(source, '([0-9]+)', 1) AS src_num,
           replace(source, 'src', 'domain') AS src_renamed,
           left(text, 12) AS head12,
           right(source, 2) AS tail2,
           CAST(len(string_split_regex(text, '[ ]+')) AS INT) AS n_ws_tokens
    FROM documents
    """,
)
def c18_string_battery(spark: SparkSession, sf: str) -> DataFrame:
    """String-scalar battery over the document corpus: slicing, search,
    padding (including the truncation edge: lpad shorter than the input
    cuts it), translate, repeat/reverse/case/trim, edit distance,
    C-style formatting, regexp extraction (ASCII-class pattern — Java
    and RE2 agree), literal replace, left/right, and whitespace token
    counts via regex split. Every pairing is pinned value-identical
    cross-engine; pure codegen projection, zero shuffles."""
    docs = load_table(spark, sf, "documents")
    t, lang, src = F.col("text"), F.col("lang"), F.col("source")
    return docs.select(
        "doc_id",
        F.substring(t, 3, 40).alias("sub"),
        F.instr(t, "e").alias("first_e"),
        F.lpad(lang, 5, "_").alias("lang_pad"),
        F.rpad(src, 8, ".").alias("src_pad"),
        F.translate(lang, "aeiou", "AEIOU").alias("lang_vow"),
        F.repeat(lang, 2).alias("lang2"),
        F.reverse(src).alias("src_rev"),
        F.upper(lang).alias("lang_up"),
        F.trim(F.concat(F.lit(" "), lang, F.lit(" "))).alias("lang_trim"),
        F.levenshtein(lang, F.lit("en")).alias("lev_en"),
        F.ascii(F.substring(src, 1, 1)).alias("src_ascii"),
        F.format_string("%s_%d", lang, F.col("n_chars")).alias("tagged"),
        F.regexp_extract(src, "([0-9]+)", 1).alias("src_num"),
        F.replace(src, F.lit("src"), F.lit("domain")).alias("src_renamed"),
        F.substring(t, 1, 12).alias("head12"),
        F.substring(src, -2, 2).alias("tail2"),
        F.size(F.split(t, "[ ]+")).alias("n_ws_tokens"),
    )


# Multilingual battery fixture: deterministic unicode suffixes cycled
# onto the (ASCII) documents text by doc_id — combining-vs-precomposed
# accents, ligature/fullwidth/circled compatibility forms, Greek,
# Cyrillic, CJK, an astral-plane emoji, stacked combining marks.
# Raw UTF-8 glyphs except the astral emoji (escaped for greppability).
_UNI_SAMPLES = [
    "café",  # precomposed e-acute
    "café",  # decomposed: NFC must re-compose it
    "naïve façade",
    "ñandú",
    "ﬁle ﬂow",  # fi/fl ligatures (NFKC folds; NFC keeps)
    "ＡＢＣ１２３",  # fullwidth ABC123
    "①②③",  # circled 1-3
    "Ελληνικά γλώσσα",
    "мир и труд май",
    "北京 2024 年",
    "\U0001f680 launch déjà-vu",
    "Grüße aus Österreich",
    "ASCII only text 42",
    "há̧ček",  # stacked marks: cedilla blocks nothing, NFC reorders
]
_UNI_CASE = (
    f"CASE doc_id % {len(_UNI_SAMPLES)} "
    + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_UNI_SAMPLES))
    + " END"
)


@_q(
    "c20_unicode_battery",
    f"""
    WITH s AS (SELECT doc_id, concat_ws(' ', text, {_UNI_CASE}) AS t2
               FROM documents),
    n AS (SELECT doc_id, t2, nfc_normalize(t2) AS nfc_text,
                 strip_accents(t2) AS stripped
          FROM s)
    SELECT doc_id, nfc_text,
           CAST(length(nfc_text) AS BIGINT) AS n_chars,
           stripped,
           array_to_string(
             regexp_extract_all(nfc_text, '[\\p{{L}}\\p{{N}}]+'), '|')
             AS tokens,
           CAST(len(regexp_extract_all(nfc_text, '[\\p{{L}}\\p{{N}}]+'))
             AS BIGINT) AS n_tokens
    FROM n
    """,
)
def c20_unicode_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode battery on the CROSS-ENGINE-EXACT subset: NFC
    normalization (unicodedata ≡ DuckDB nfc_normalize — both implement
    UAX#15 over the same Unicode tables), accent stripping (NFD +
    drop-Mn ≡ strip_accents), codepoint-length, and \\p{{L}}\\p{{N}}
    tokenization (Java and RE2 agree on the property classes; a
    combining mark that NFC cannot compose splits tokens identically).
    Deliberately ABSENT from the gate: NFKC (no DuckDB twin —
    pytest-pinned: ﬁ→fi, fullwidth→ASCII, ①→1) and lowercase folding
    (JVM is context-sensitive on final sigma, utf8proc is not; İ
    diverges too — pinned engine-side in pytest, policy documented in
    ext.text.unicode_tokens). The normalize/strip stages are
    Arrow-batched pandas UDFs (Spark has no normalizer built-in), the
    rest pure codegen; narrow per-row plan, zero shuffles."""
    from .ext.text import strip_accents, unicode_normalize, unicode_tokens

    docs = load_table(spark, sf, "documents")
    arr = F.array(*[F.lit(s) for s in _UNI_SAMPLES])
    t2 = F.concat_ws(
        " ",
        F.col("text"),
        F.element_at(arr, (F.col("doc_id") % len(_UNI_SAMPLES) + 1).cast("int")),
    )
    staged = docs.select("doc_id", t2.alias("t2")).select(
        "doc_id", unicode_normalize("t2").alias("nfc_text"),
        strip_accents("t2").alias("stripped"),
    )
    toks = unicode_tokens("nfc_text")
    return staged.select(
        "doc_id",
        "nfc_text",
        F.length("nfc_text").cast("long").alias("n_chars"),
        "stripped",
        F.array_join(toks, "|").alias("tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


@_q(
    "o7_percentile_battery",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.5)  AS p50_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty,
           quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25)
             AS iqr_qty,
           quantile_cont(l_extendedprice, 0.9)  AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def o7_percentile_battery(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT interpolated percentiles per group — the distribution-shape
    aggregate (quartiles, IQR, tail percentiles) data-quality reports
    run. Spark's percentile() and DuckDB's quantile_cont use the same
    (n-1)·p index + linear interpolation; verified bit-identical on
    this fixture, so the battery gates unreounded doubles. Scale note:
    exact percentile buffers each group's values — the 100 TB path for
    high-cardinality groups is approx_percentile (t-digest, mergeable
    partial aggregation); this exact form is the oracle for it, the
    same exact↔approx pairing the kNN family uses."""
    li = load_table(spark, sf, "lineitem")
    pq = lambda p: F.expr(f"percentile(l_quantity, {p})")  # noqa: E731
    pp = lambda p: F.expr(f"percentile(l_extendedprice, {p})")  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        pq(0.25).alias("p25_qty"),
        pq(0.5).alias("p50_qty"),
        pq(0.75).alias("p75_qty"),
        (pq(0.75) - pq(0.25)).alias("iqr_qty"),
        pp(0.9).alias("p90_price"),
        pp(0.99).alias("p99_price"),
    )


@_q(
    "w17_range_frame_battery",
    """
    SELECT event_id, user_id,
           count(*) OVER w7d AS n_7d,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w7d AS BIGINT)
             AS value_cents_7d,
           count(*) OVER w1h AS n_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events)
    WINDOW
      w7d AS (PARTITION BY user_id ORDER BY ep
              RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
      w1h AS (PARTITION BY user_id ORDER BY ep
              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def w17_range_frame_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frames — trailing 7-day / 1-hour counts and an
    exact-cents trailing sum per user, the per-event rate/velocity
    features (fraud, rate limits, engagement) that ROWS frames cannot
    express (they need VALUE distance, not row distance). Ordering is
    epoch seconds so both engines share numeric RANGE semantics, and
    rows with equal timestamps are PEERS — the frame includes all of
    them regardless of physical order, which is what makes the result
    deterministic without a unique tiebreaker. One hash partition on
    user_id, one sort, two frames over the same window spec."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ep"),
        _cents("value").alias("vc"),
    )
    w7 = W.partitionBy("user_id").orderBy("ep").rangeBetween(-604800, 0)
    w1 = W.partitionBy("user_id").orderBy("ep").rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w7).alias("n_7d"),
        F.sum("vc").over(w7).alias("value_cents_7d"),
        F.count(F.lit(1)).over(w1).alias("n_1h"),
    )
