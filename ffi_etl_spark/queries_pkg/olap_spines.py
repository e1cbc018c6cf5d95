"""Additional OLAP spine queries (TPC-H q2/q7/q9/q10/q12/q14/q22 shapes,
analytic windows, deterministic sampling).

The reference has only two join shapes (SURVEY.md §2.3) and no windows
beyond first/row_number (§2.5); these queries extend the engine across
the standard OLAP shape catalogue, each with a DuckDB oracle. Shapes are
adapted to the driver testdata (TESTDATA.md): there is no partsupp
table, so q2/q9/q16 variants derive supplier-part relations from
lineitem, and q9's profit omits supplycost.

Scale notes per query are inline — the recurring pattern: filter the
dimension FIRST, broadcast it, keep the fact-table scan narrow, and let
the single shuffle be the final group-by on low-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query


# --- q7 shape: volume shipping between two nations, two dim aliases -----------

@query(
    "tpch_q7_volume",
    oracle="""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       EXTRACT(YEAR FROM l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS volume
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def _tpch_q7_volume(spark, sf_dir):
    """Two aliases of the same dimension (supplier nation vs customer
    nation). Both nation joins broadcast; the nation filter prunes
    supplier/customer BEFORE they meet lineitem, so the fact scan joins
    against two tiny hash relations and the only wide shuffle is
    lineitem⋈orders."""
    nation = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)"))
            .cast("double")
            .alias("volume")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- q9 shape: profit by nation x year over a name-filtered part set ----------

@query(
    "tpch_q9_profit",
    oracle="""
SELECT n_name AS nation,
       EXTRACT(YEAR FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS profit
FROM lineitem, part, supplier, nation, orders
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
  AND p_name LIKE '%gear%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
ORDER BY nation, o_year DESC
""",
)
def _tpch_q9_profit(spark, sf_dir):
    """q9's agg-over-5-way-join (minus partsupp, absent from testdata).
    The selective p_name filter is applied in the part scan and the
    filtered part key set broadcasts, so lineitem is pruned by a
    broadcast semi-ish inner join before the orders shuffle."""
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select("p_partkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)"))
            .cast("double")
            .alias("profit")
        )
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --- q10 shape: top-k customers by returned-item revenue ----------------------

@query(
    "tpch_q10_returns",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def _tpch_q10_returns(spark, sf_dir):
    """Group on a high-cardinality key (customer) then global top-k.
    Spark's TakeOrderedAndProject keeps the top-k merge on partial
    per-partition heaps — no full sort materializes. c_custkey breaks
    revenue ties so the LIMIT frontier is deterministic."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- q12 shape: two-way conditional counts over a join ------------------------

@query(
    "tpch_q12_priority",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def _tpch_q12_priority(spark, sf_dir):
    """Conditional aggregation (pivot-free CASE sums) — one pass, one
    shuffle on a 2-value key; the shipdate predicate pushes to the scan."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --- q14 shape: promo revenue ratio (conditional agg -> scalar) ---------------

@query(
    "tpch_q14_promo",
    oracle="""
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))
                    ELSE CAST(0 AS DECIMAL(27,8)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-06-01 00:00:00'
""",
)
def _tpch_q14_promo(spark, sf_dir):
    """Single-row ratio of two conditional sums computed in ONE
    aggregation (not two jobs + driver math). part broadcasts into the
    date-pruned lineitem scan."""
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)")
    zero = F.lit(0).cast("decimal(27,8)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


# --- q22 shape: global scalar threshold + anti join ---------------------------

@query(
    "tpch_q22_idle_rich",
    oracle="""
WITH threshold AS (
  SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, threshold
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def _tpch_q22_idle_rich(spark, sf_dir):
    """q22's three-shape combo: a global scalar subquery (kept in-plan
    as a broadcast 1-row aggregate cross join — the reference's
    collect()-scalar anti-pattern eliminated, SURVEY.md §4), an anti
    join against (date-filtered) orders, and a final tiny group-by.
    "Idle" = no orders since 2000 (the testdata has no order-less
    customers, so the classic no-orders-at-all predicate is vacuous)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --- q2 shape: per-group minimum as a decorrelated window ---------------------

@query(
    "tpch_q2_min_cost",
    oracle="""
SELECT p.p_partkey, p.p_name, p.p_type, p.p_size, p.p_retailprice
FROM part p
WHERE p.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM part p2
  WHERE p2.p_type = p.p_type AND p2.p_size = p.p_size
)
ORDER BY p.p_partkey
""",
)
def _tpch_q2_min_cost(spark, sf_dir):
    """q2's correlated scalar subquery (min per group), decorrelated to
    a window minimum — one shuffle on the group key instead of a
    re-scan per row; this is exactly what Catalyst's decorrelation does
    to the SQL form, expressed directly."""
    part = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type", "p_size")
    return (
        part.withColumn("_min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("_min_price"))
        .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


# --- analytic windows: lag/lead over event streams ----------------------------

@query(
    "window_lead_lag",
    oracle="""
SELECT event_id, user_id, event_type,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS micros_since_prev,
       LEAD(event_type) OVER w AS next_event_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def _window_lead_lag(spark, sf_dir):
    """lag/lead over per-user event time — the per-key sequential-scan
    shape (one shuffle on user_id, sort within partition). event_id
    breaks ts ties so lag/lead are deterministic. Deltas are exact
    microseconds (unix_micros) — unix_timestamp would truncate each
    endpoint to seconds and diverge from interval arithmetic."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
                "micros_since_prev"
            ),
            F.lead("event_type").over(w).alias("next_event_type"),
        )
        .orderBy("user_id", "event_id")
    )


# --- analytic windows: rank / dense_rank / ntile ------------------------------

@query(
    "window_rank_ntile",
    oracle="""
WITH rev AS (
  SELECT c_custkey, c_mktsegment,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
), ranked AS (
  SELECT c_custkey, c_mktsegment, revenue,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         NTILE(4) OVER w AS quartile
  FROM rev
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey)
)
SELECT * FROM ranked WHERE rnk <= 5
ORDER BY c_mktsegment, rnk, c_custkey
""",
)
def _window_rank_ntile(spark, sf_dir):
    """Ranking family over a join-aggregate: rank, dense_rank, ntile in
    one window pass, then top-5 per segment. The rank filter happens
    after a single shuffle on the segment key; c_custkey tiebreak keeps
    ntile assignment deterministic."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.select(
            "c_custkey",
            "c_mktsegment",
            "revenue",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rnk") <= 5)
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    )


# --- deterministic hash-mod sampling ------------------------------------------

@query(
    "deterministic_sample",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
ORDER BY o_orderkey
""",
)
def _deterministic_sample(spark, sf_dir):
    """5% sample by md5-hash-mod of the key: reproducible across
    engines, runs, and partitionings (unlike seeded Bernoulli
    df.sample, whose draw depends on partition layout). The predicate
    is a narrow scan filter — no shuffle; at 100 TB this is the pattern
    for train/holdout splits that must never drift between runs."""
    o = table(spark, sf_dir, "orders")
    bucket = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 20
    return (
        o.filter(bucket == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         pow((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 1)
               / 4294967296.0,
             1.0 / o_totalprice) AS _key
  FROM orders
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY _key DESC, o_orderkey) AS rk FROM keyed
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM ranked WHERE rk <= 100
ORDER BY o_orderkey
""",
)
def _weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    each row draws u in (0,1] and is ranked by u^(1/weight); the top-k
    ARE a weight-proportional sample. The draw is md5-derived from the
    key — reproducible across engines/runs/partitionings like
    deterministic_sample, and the whole thing is one narrow projection
    + a top-k (TakeOrderedAndProject — never a global sort), so it
    scales like a scan. The sampling KEY itself is pow() (transcendental)
    and is therefore not emitted — only the selected rows are; a
    last-ulp cross-engine divergence could in principle flip the k-th
    boundary row, in practice distinct md5 draws sit far apart.
    row_number ties (none in practice) break on o_orderkey."""
    o = table(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col("o_totalprice"))
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", key.alias("_key"))
        .orderBy(F.desc("_key"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )
