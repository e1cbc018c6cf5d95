"""Breadth queries: semi-structured JSON, explode/top-k, cumulative
windows, set operations, unpivot.

None of these shapes exist in the reference (SURVEY.md §2 — its surface
is flat strings + two join shapes); they round out the engine to the
full DataFrame shape catalogue a migrating user expects. Every query
has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import load_tables, table
from ffi_etl_spark.queries_pkg import query


# --- semi-structured: JSON path extraction inside an aggregation --------------

@query(
    "json_extract_agg",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def _json_extract_agg(spark, sf_dir):
    """JSON path extraction stays JVM-side (``get_json_object``) and
    feeds a plain hash aggregate — no UDF, no Python. At 100 TB the
    better shape is parsing ONCE with an explicit schema
    (``from_json``) and persisting typed columns; per-query path
    extraction is the ad-hoc form."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
        .orderBy("event_type")
    )


# --- explode + top-k: the word-count spine ------------------------------------

@query(
    "token_topk",
    oracle=r"""
SELECT token, COUNT(*) AS n
FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 30
""",
)
def _token_topk(spark, sf_dir):
    """explode → group → top-k. The explode is a narrow generator (no
    shuffle); the aggregation shuffles once on the token, where map-side
    partial aggregation collapses each partition's token histogram
    before the exchange — the classic wordcount plan, which survives
    any corpus size because the shuffle volume is bounded by distinct
    tokens per partition, not rows."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(30)
    )


# --- cumulative window: running total per key ---------------------------------

@query(
    "running_total",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS lifetime_value
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def _running_total(spark, sf_dir):
    """Explicit ROWS frame (unbounded-preceding → current): per-customer
    lifetime value after each order. One shuffle on the partition key;
    o_orderkey breaks date ties so the frame — and therefore every
    intermediate sum — is deterministic. Sums accumulate in
    decimal(18,2) and cast to double only at the edge, so Spark and the
    oracle agree bit-for-bit."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("lifetime_value"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# --- set operations: INTERSECT / EXCEPT ---------------------------------------

@query(
    "set_ops_retention",
    oracle="""
WITH y1997 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
), y1998 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
)
SELECT 'retained' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1997 INTERSECT SELECT o_custkey FROM y1998)
UNION ALL
SELECT 'churned' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1997 EXCEPT SELECT o_custkey FROM y1998)
ORDER BY cohort, o_custkey
""",
)
def _set_ops_retention(spark, sf_dir):
    """INTERSECT / EXCEPT as cohort retention. Catalyst rewrites both
    to joins (semi/anti over distinct inputs), so the physical plan is
    two hash joins sharing the same scans — no dedicated set-op
    machinery to tune."""
    o = table(spark, sf_dir, "orders")

    def active(year: int):
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y1997, y1998 = active(1997), active(1998)
    retained = y1997.intersect(y1998).withColumn("cohort", F.lit("retained"))
    churned = y1997.exceptAll(y1998).withColumn("cohort", F.lit("churned"))
    return (
        retained.unionByName(churned)
        .select("cohort", "o_custkey")
        .orderBy("cohort", "o_custkey")
    )


# --- unpivot (melt): wide metrics -> long (metric, value) ---------------------

@query(
    "unpivot_metrics",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
ORDER BY l_returnflag, metric
""",
)
def _unpivot_metrics(spark, sf_dir):
    """pivot's inverse: ``unpivot`` lowers wide per-flag metrics to
    (key, metric, value) rows. Runs after the aggregation, so the melt
    touches K×M rows (flags × metrics), never the fact table."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double").alias("sum_disc"),
    )
    return (
        wide.unpivot(
            ["l_returnflag"],
            ["sum_qty", "sum_price", "sum_disc"],
            "metric",
            "value",
        )
        .orderBy("l_returnflag", "metric")
    )


# --- statistical moments: corr / covar / stddev / variance --------------------

@query(
    "stats_moments",
    oracle="""
SELECT l_returnflag,
       printf('%.6e', corr(l_quantity, l_extendedprice)) AS qty_price_corr,
       printf('%.6e', covar_samp(l_quantity, l_extendedprice)) AS qty_price_covar,
       printf('%.6e', stddev_samp(l_quantity)) AS qty_stddev,
       printf('%.6e', var_samp(l_extendedprice)) AS price_var,
       printf('%.6e', stddev_pop(l_discount)) AS disc_stddev_pop
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def _stats_moments(spark, sf_dir):
    """Second-moment aggregate family in one hash aggregation — Spark's
    implementations are single-pass co-moment updates (Welford-style),
    so they distribute: partials merge associatively across partitions,
    no second scan.

    CORRECTNESS_r03 lesson: the raw doubles hash-mismatched the oracle —
    32-partition merge order vs DuckDB's single-threaded scan differ in
    the low bits at ~1e8 magnitude, and the driver's float canon does
    NOT absorb that. Per the established parity rule, both engines emit
    fixed-precision SCIENTIFIC strings (%.6e = 7 significant figures —
    relative rounding, since %.6f at 1e8 magnitude would still expose
    the ~1e-12-relative accumulation difference as absolute 1e-4s)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.format_string("%.6e", F.corr("l_quantity", "l_extendedprice")).alias("qty_price_corr"),
            F.format_string("%.6e", F.covar_samp("l_quantity", "l_extendedprice")).alias("qty_price_covar"),
            F.format_string("%.6e", F.stddev_samp("l_quantity")).alias("qty_stddev"),
            F.format_string("%.6e", F.var_samp("l_extendedprice")).alias("price_var"),
            F.format_string("%.6e", F.stddev_pop("l_discount")).alias("disc_stddev_pop"),
        )
        .orderBy("l_returnflag")
    )


# --- grouping sets with grouping() indicators ---------------------------------

@query(
    "grouping_sets_agg",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_prio,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
""",
)
def _grouping_sets_agg(spark, sf_dir):
    """Explicit GROUPING SETS (not derivable from cube/rollup when the
    sets aren't a prefix lattice) + grouping() indicators to tell a
    real NULL key from a superaggregate row. One pass: Spark expands
    the sets map-side and aggregates each in the same shuffle."""
    from ffi_etl_spark.catalog import load_tables

    load_tables(spark, sf_dir, names=("orders",))
    return spark.sql("""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_prio,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
""")


# --- frame-sensitive value windows: first/last/nth ----------------------------

@query(
    "window_first_last_nth",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def _window_first_last_nth(spark, sf_dir):
    """first/last/nth positional window values. last_value must widen
    the frame to unbounded-following — under the default frame it just
    echoes the current row, the classic silent-wrong-answer; the
    explicit frame here is the correctness point being locked in."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w_full).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# --- deterministic collection aggregates: sorted list + string agg ------------

@query(
    "grouped_list_agg",
    oracle="""
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ',' ORDER BY CAST(c_nationkey AS VARCHAR)) AS nation_csv
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def _grouped_list_agg(spark, sf_dir):
    """Collection aggregates made deterministic: collect_set's arrival
    order is partition-dependent, so a sort must follow before the
    result is comparable/storable. array_sort + array_join happen
    post-aggregation on K rows — cost-free at any scale.

    Gated-output contract (CORRECTNESS_r03 lesson): no raw array<>
    columns — the driver's pandas canonicalizer cannot sort ndarray
    cells. The collected set stays internal; the OUTPUT is the joined
    CSV string plus the set's cardinality."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))), ","
            ).alias("nation_csv"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "embedding_unit_norm",
    oracle="""
SELECT vec_id,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm,
       array_to_string(
         list_transform(embedding::DOUBLE[],
                        x -> printf('%.6f', x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                                      embedding::DOUBLE[])))),
         ',') AS unit_csv
FROM embeddings
ORDER BY l2_norm DESC, vec_id
LIMIT 50
""",
)
def _embedding_unit_norm(spark, sf_dir):
    """Array higher-order functions as first-class columns: L2 norm via
    the sequential zip_with/aggregate fold (functions/vectors.py — same
    order DuckDB's list_dot_product sums in, so values hash-match) and
    unit-vector normalization via transform over the stored float
    array. Fully narrow until the global top-k, which Spark executes as
    TakeOrderedAndProject (per-partition heaps, no full sort).

    Gated-output contract (CORRECTNESS_r03 lesson): the unit vector
    leaves as a %.6f-per-element CSV string, never a raw array<double>
    column — the driver canon cannot sort ndarray cells. The element
    quotients are bit-equal across engines (bit-equal x and norm,
    IEEE-correctly-rounded divide), so identical fixed-precision
    strings; l2_norm itself stays a raw double because the sequential
    fold is bit-equal by construction."""
    from ffi_etl_spark.functions.vectors import norm2

    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("l2_norm", norm2(F.col("embedding")))
        .select(
            "vec_id",
            "l2_norm",
            F.array_join(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.format_string(
                        "%.6f", x.cast("double") / F.col("l2_norm")
                    ),
                ),
                ",",
            ).alias("unit_csv"),
        )
        .orderBy(F.col("l2_norm").desc(), "vec_id")
        .limit(50)
    )


# --- map-typed columns: from_json -> map -> explode ---------------------------

@query(
    "props_map_explode",
    oracle="""
SELECT event_type, 'k' AS prop_key,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS value_sum
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
ORDER BY event_type, prop_key
""",
)
def _props_map_explode(spark, sf_dir):
    """MapType as a first-class column: parse the JSON props into
    map<string,long>, explode to (key, value) rows, aggregate per
    (event_type, key). The Spark side is fully generic over the key set
    (map_keys/explode, no schema listing the keys); the oracle pins the
    testdata's single key 'k' because this DuckDB build has no
    json_each table function — values still hash-compare exactly."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.explode(F.from_json(F.col("props"), "map<string,bigint>")).alias(
            "prop_key", "prop_value"
        ),
    )
    return (
        parsed.groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("prop_value").alias("value_sum"),
        )
        .orderBy("event_type", "prop_key")
    )


# --- stratified deterministic sampling ----------------------------------------

@query(
    "stratified_sample",
    oracle="""
SELECT event_id, event_type, user_id
FROM events
WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
      % (CASE event_type WHEN 'click' THEN 10 WHEN 'view' THEN 50 ELSE 20 END) = 0
ORDER BY event_id
""",
)
def _stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling: each event_type gets its own
    md5-hash-mod rate (clicks 1/10, views 1/50, rest 1/20) — the
    class-rebalancing cousin of deterministic_sample. Reproducible
    across engines/partitionings unlike seeded sampleBy; pure narrow
    scan filter, no shuffle at any scale."""
    ev = table(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    rate = (
        F.when(F.col("event_type") == "click", 10)
        .when(F.col("event_type") == "view", 50)
        .otherwise(20)
    )
    return (
        ev.filter(bucket % rate == 0)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    )


# --- distribution windows: percent_rank / cume_dist ---------------------------

@query(
    "window_percent_rank",
    oracle="""
WITH rev AS (
  SELECT c_custkey, c_mktsegment,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
)
SELECT c_custkey, c_mktsegment, revenue,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM rev
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey)
ORDER BY c_mktsegment, pct_rank, c_custkey
LIMIT 200
""",
)
def _window_percent_rank(spark, sf_dir):
    """Distribution ranks (percent_rank = (rank-1)/(n-1), cume_dist)
    per segment — completes the ranking family beside rank/ntile. Both
    engines derive them from the same integer rank and partition count,
    so the doubles match bit-for-bit."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rev = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.select(
            "c_custkey",
            "c_mktsegment",
            "revenue",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("c_mktsegment", "pct_rank", "c_custkey")
        .limit(200)
    )


# --- approximate quantiles (sketch tier beside quantiles_exact) ---------------

@query(
    "approx_quantiles",
    oracle="""
WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
SELECT event_type, t.pct, n, CAST(1 AS INT) AS within_band
FROM c CROSS JOIN (VALUES ('p50'), ('p90'), ('p99')) AS t(pct)
ORDER BY event_type, t.pct
""",
)
def _approx_quantiles(spark, sf_dir):
    """approx_percentile with bounded error beside the exact
    percentile family (quantiles_exact) — the sketch that actually runs
    at 100 TB, where exact percentiles would shuffle the full column.

    Upgraded rows-only → FULL oracle in round 4 via the
    `approx_distinct_users` error-band pattern: the sketch VALUE is
    engine-specific (DuckDB's approx_quantile is a different sketch),
    so the gated output is the exact group count plus a flag asserting
    the Spark sketch's RANK GUARANTEE held — percentile_approx(…,
    10000) promises rank error ≤ n/10000, and the flag checks the
    returned value's true rank interval [count(<v), count(≤v)]
    (interval form makes the check tie-robust) intersects the target
    rank ± 2n/10000 + 1. All-integer comparison in basis points (no
    float threshold), deterministic for fixed data. The driver-canon
    lesson from r03 stands: the quantile array never leaves the plan
    — it is exploded before output.

    Plan: one agg for the sketches (K rows broadcast back), one
    counting agg for the rank check — two scans, no wide shuffle."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("approx_pcts"),
    )
    labels = F.array(F.lit("p50"), F.lit("p90"), F.lit("p99"))
    bps = F.array(F.lit(5000), F.lit(9000), F.lit(9900))
    quants = agg.select(
        "event_type",
        F.posexplode("approx_pcts").alias("pos", "approx_value"),
    ).select(
        "event_type",
        F.element_at(labels, F.col("pos") + 1).alias("pct"),
        F.element_at(bps, F.col("pos") + 1).alias("pbp"),
        "approx_value",
    )
    checked = (
        ev.join(F.broadcast(quants), "event_type")
        .groupBy("event_type", "pct", "pbp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("value") < F.col("approx_value")).alias("cnt_lt"),
            F.count_if(F.col("value") <= F.col("approx_value")).alias("cnt_le"),
        )
    )
    band = 2 * F.col("n") + 10000  # (2e-4·n + 1) in basis-point scale
    target = F.col("pbp") * F.col("n")
    return checked.select(
        "event_type",
        "pct",
        "n",
        (
            (F.col("cnt_lt") * 10000 <= target + band)
            & (F.col("cnt_le") * 10000 >= target - band)
        )
        .cast("int")
        .alias("within_band"),
    ).orderBy("event_type", "pct")


# --- time-RANGE frame: trailing 30-day window ---------------------------------

@query(
    "window_trailing_30d",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_30d,
       COUNT(*) OVER (PARTITION BY o_custkey
                      ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
         AS orders_30d
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def _window_trailing_30d(spark, sf_dir):
    """Time-based RANGE frame (vs running_total's ROWS frame): each
    order sees the sum/count of the customer's orders in the trailing
    30 days INCLUDING same-timestamp peers — RANGE semantics ROWS can't
    express. Both engines order by epoch seconds with a 2,592,000 s
    frame, so tie handling and frame edges agree exactly; sums stay in
    decimal until the output cast. One shuffle on the partition key."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("trailing_30d"),
            F.count(F.lit(1)).over(w).alias("orders_30d"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# --- training-corpus hygiene: PII redaction / repetition / decontamination ---

_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_SQL = "\\d{3}-\\d{3}-\\d{4}"
_PII_IP_SQL = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

_PII_ORACLE = """
WITH injected AS (
  SELECT doc_id,
         text || ' Contact doc' || doc_id || '@example.org or 555-' ||
         lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
         lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
         ' at 10.0.' || (doc_id % 256) || '.1' AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{email}', 0)) AS n_emails,
       len(regexp_extract_all(text, '{phone}', 0)) AS n_phones,
       len(regexp_extract_all(text, '{ip}', 0)) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{email}', '<EMAIL>', 'g'),
         '{phone}', '<PHONE>', 'g'),
         '{ip}', '<IP>', 'g') AS redacted
FROM injected
ORDER BY doc_id
""".format(email=_PII_EMAIL_SQL, phone=_PII_PHONE_SQL, ip=_PII_IP_SQL)


@query("pii_redact", oracle=_PII_ORACLE)
def _pii_redact(spark, sf_dir):
    """PII scrub over the documents table. The synthetic corpus holds
    no real PII, so the query plants one deterministic email / phone /
    IPv4 per doc (keyed off doc_id) before redacting — making every
    pattern measurably fire while staying oracle-reproducible. The
    operator itself (operators/textops.py::redact_pii) is the
    production surface: a narrow regexp_replace chain in the scan
    stage."""
    from ffi_etl_spark.operators.textops import redact_pii

    docs = table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" Contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    return (
        redact_pii(injected)
        .withColumns(
            {
                "n_emails": F.col("n_emails").cast("long"),
                "n_phones": F.col("n_phones").cast("long"),
                "n_ips": F.col("n_ips").cast("long"),
            }
        )
        .orderBy("doc_id")
    )


_REPETITION_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(toks) - 1, 1))]) AS gram
  FROM toked
), per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
), per_doc AS (
  SELECT doc_id, SUM(c)::BIGINT AS n_grams, MAX(c) AS top_gram_n
  FROM per_gram GROUP BY doc_id
)
SELECT doc_id, n_grams, top_gram_n,
       round(top_gram_n::DOUBLE / n_grams::DOUBLE, 6) AS top_gram_frac,
       top_gram_n * 5 <= n_grams AS keep
FROM per_doc
ORDER BY doc_id
"""


@query("repetition_filter", oracle=_REPETITION_ORACLE)
def _repetition_filter(spark, sf_dir):
    """Gopher-style repeated-n-gram gate (operators/textops.py::
    repetition_filter): docs whose top word-2-gram exceeds 20% of all
    2-grams are boilerplate. The keep-decision is integer arithmetic
    (top*5 <= total) so both engines decide identically; the double
    ratio is display-only (round-to-6 stays inside %.6g canon)."""
    from ffi_etl_spark.operators.textops import repetition_filter

    docs = table(spark, sf_dir, "documents")
    return repetition_filter(docs).orderBy("doc_id")


_DECONTAMINATE_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct([
           ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 8))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 4, 1))
         ])) AS gh
  FROM toked
), bench AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % 10 = 0
)
SELECT g.doc_id, COUNT(*) AS n_shared_grams
FROM grams g JOIN bench USING (gh)
WHERE g.doc_id % 10 <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@query("decontaminate", oracle=_DECONTAMINATE_ORACLE)
def _decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/textops.py::decontaminate):
    training docs sharing any word-5-gram with the held-out set
    (doc_id % 10 == 0 stands in for an eval benchmark; 5-grams and a
    10% bench split are sized so the synthetic corpus actually shows
    overlap at the sf0.01 gate — production would use 8-13 grams and a
    real eval set). The benchmark gram set is broadcast, so at 100 TB
    the overlap test rides the scan stage map-side."""
    from ffi_etl_spark.operators.textops import decontaminate

    docs = table(spark, sf_dir, "documents")
    return decontaminate(docs, F.col("doc_id") % 10 == 0, n=5)


_TFIDF_ORACLE = r"""
WITH toked AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toked GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*)::BIGINT AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * ((n.n_docs - d.df + 0.5) / (d.df + 0.5)) AS tfidf
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf
FROM ranked WHERE rk <= 3
ORDER BY doc_id, tfidf DESC, term
"""


@query("keyword_tfidf", oracle=_TFIDF_ORACLE)
def _keyword_tfidf(spark, sf_dir):
    """Top-3 tf-idf keywords per document (operators/textops.py::
    keyword_tfidf). Rational BM25 idf — (N-df+0.5)/(df+0.5), all
    IEEE-exact arithmetic on integer inputs — keeps the raw double
    scores bit-identical to DuckDB without any rounding, while ranking
    identically to log-idf."""
    from ffi_etl_spark.operators.textops import keyword_tfidf

    docs = table(spark, sf_dir, "documents")
    return keyword_tfidf(docs, k=3).orderBy("doc_id", F.desc("tfidf"), "term")


_PACK_ORACLE = r"""
WITH toked AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
  FROM documents
), off AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
  FROM toked
)
SELECT doc_id, n_tokens, tok_start,
       tok_start // 256 AS chunk_start,
       (tok_start + n_tokens - 1) // 256 AS chunk_end,
       ((tok_start + n_tokens - 1) // 256) - (tok_start // 256) + 1 AS n_chunks
FROM off
ORDER BY doc_id
"""


@query("pack_sequences", oracle=_PACK_ORACLE)
def _pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing into 256-token context windows
    (operators/textops.py::pack_sequences). The oracle is the naive
    single-window global cumsum; the Spark side computes the SAME
    integer layout with the scalable range-partition + broadcast-offset
    cumsum — the differential proves the two-phase decomposition exact,
    not just plausible."""
    from ffi_etl_spark.operators.textops import pack_sequences

    docs = table(spark, sf_dir, "documents")
    return pack_sequences(docs, chunk_tokens=256).orderBy("doc_id")


@query(
    "salted_join_agg",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def _salted_join_agg(spark, sf_dir):
    """Priority-level revenue through the skew-safe salted join
    (operators/olap.py::salted_join): lineitem rows fan out over 8
    salts, orders replicate per salt, and the differential proves the
    salted result multiset identical to the plain SQL join. Money sums
    ride DECIMAL(18,2) on both sides (addition-order-proof; scale 2
    matches the 2-decimal data and keeps the sum's integer significand
    under 2^53, where DuckDB's decimal->double starts double-rounding
    while Java's stays correctly rounded), double only at the edge."""
    from ffi_etl_spark.operators.olap import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, o, ["l_orderkey"], n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("gross"),
        )
        .orderBy("o_orderpriority")
    )


SKEW_FANOUT = 16


def _skew_frames(spark, sf_dir):
    """Zipf-ish join inputs for the skew demo: 90% of lineitem rows
    collapse onto one hot key (every l_orderkey not divisible by 10 →
    key 1), fanned out ×16 so the hot partition reaches straggler size
    at sf0.1 (~8.6M of 9.6M rows on one key — the shape a 100 TB fact
    table presents naturally). The dim keeps one row per key and is
    hinted ``merge`` — the strategy Spark picks when both sides are
    shuffle-sized; broadcast would bypass the skew and prove nothing.
    Measured at sf0.1/local[32] over 3 alternating runs: plain
    3.8-5.3s vs salted 2.5-3.2s (~1.6×) — the single hot SMJ task
    sorts 8.6M rows while 31 cores idle; salting spreads it over 16."""
    hot = lambda c: F.when(F.col(c) % 10 != 0, F.lit(1)).otherwise(F.col(c))  # noqa: E731
    li = (
        table(spark, sf_dir, "lineitem")
        .select(hot("l_orderkey").alias("k"), F.col("l_quantity").cast("long").alias("qty"))
        .withColumn("_f", F.explode(F.sequence(F.lit(1), F.lit(SKEW_FANOUT))))
        .drop("_f")
    )
    d = (
        table(spark, sf_dir, "orders")
        .select(hot("o_orderkey").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        # shuffle_hash, not merge (optimization round 12, guide §3.1):
        # both hints keep the shuffle (broadcast would bypass the skew
        # and prove nothing — the plain twin's hot key still serializes
        # through one reducer, the salted form still spreads it), but
        # the hash build skips sorting the 9.6M-row fact side that SMJ
        # paid on every run. Sound at scale because the dim is a keyed
        # aggregate (one row per key) — each post-shuffle build
        # partition is far under maxShuffledHashJoinLocalMapThreshold
        # territory. Measured at sf0.1/local[32], median of 3:
        # salted 4.08s→2.77s, plain 4.70s→3.80s; the skew lever's
        # ratio stays visible (1.37×), identical results.
        .hint("shuffle_hash")
    )
    return li, d


def skew_join_plain(spark, sf_dir):
    """Unsalted twin of ``skew_salted_join`` — NOT a registered query;
    bench.py times it beside the salted form so the skew lever carries
    a measured number instead of a claim."""
    li, d = _skew_frames(spark, sf_dir)
    return li.join(d, "k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("qty") * F.col("n_orders")).cast("long").alias("weighted_qty"),
    )


@query(
    "skew_salted_join",
    oracle="""
WITH f AS (
  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE l_orderkey END AS k,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem CROSS JOIN generate_series(1, 16)
), d AS (
  SELECT CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE o_orderkey END AS k,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(f.qty * d.n_orders) AS BIGINT) AS weighted_qty
FROM f JOIN d USING (k)
""",
)
def _skew_salted_join(spark, sf_dir):
    """Salted shuffle join under real key skew (90% of rows on one
    key): fact rows draw a per-row salt over 16 buckets, the dim
    replicates per salt, so the hot key runs as 16 reducer tasks
    instead of one straggler. The oracle is the plain SQL join — the
    salting must be result-invariant. AQE's skew splitter only fires
    above spark.sql.adaptive.skewJoin thresholds (256 MB partitions);
    at realistic per-partition sizes below that, and in stream-stream
    joins where AQE can't re-plan, explicit salting is the lever
    (operators/olap.py::salted_join)."""
    from ffi_etl_spark.operators.olap import salted_join

    li, d = _skew_frames(spark, sf_dir)
    return salted_join(li, d, ["k"], n_salts=16).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("qty") * F.col("n_orders")).cast("long").alias("weighted_qty"),
    )


# --- data profiling: equi-width + equi-depth histograms -----------------------

_HIST_WIDTH_ORACLE = """
WITH rng AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
), binned AS (
  SELECT CASE WHEN e.value >= rng.hi THEN 9
              ELSE CAST(floor((e.value - rng.lo) / (rng.hi - rng.lo) * 10) AS BIGINT)
         END AS bin
  FROM events e CROSS JOIN rng
)
SELECT bin, COUNT(*) AS n
FROM binned GROUP BY bin ORDER BY bin
"""


@query("histogram_equiwidth", oracle=_HIST_WIDTH_ORACLE)
def _histogram_equiwidth(spark, sf_dir):
    """10-bin equi-width histogram of events.value. The [lo, hi] range
    is a 1-row broadcast (no collect); the bin formula is the identical
    double expression on both engines (floor of correctly-rounded /,*
    — bit-exact), with the max value clamped into the last bin. One
    narrow pass + a 10-group aggregate: the profiling primitive at any
    scale."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bin_ = F.when(F.col("value") >= F.col("hi"), F.lit(9).cast("long")).otherwise(
        F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10)
    )
    return (
        ev.select("value")
        .crossJoin(F.broadcast(rng))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


_HIST_DEPTH_ORACLE = """
WITH tiled AS (
  SELECT value, event_id,
         ntile(10) OVER (ORDER BY value, event_id) AS decile
  FROM events
)
SELECT decile, COUNT(*) AS n,
       MIN(value) AS lo, MAX(value) AS hi
FROM tiled GROUP BY decile ORDER BY decile
"""


@query("histogram_equidepth", oracle=_HIST_DEPTH_ORACLE)
def _histogram_equidepth(spark, sf_dir):
    """Equi-depth (decile) histogram of events.value with EXACT ntile
    semantics, computed the two-phase way (round-4 default per the r03
    verdict — the single-partition ``ntile() OVER (ORDER BY ...)``
    formulation is the 100 TB cliff this engine exists to avoid):

    1. global rank via ``global_cumsum_exclusive`` over the composite
       (value, event_id) total order — range partition, per-partition
       window, P-row broadcast offsets; never one task;
    2. ntile's bucket rule replayed as exact integer arithmetic on the
       rank: with n rows, the first ``n mod 10`` buckets hold
       ``n div 10 + 1`` rows, the rest ``n div 10`` — bit-identical to
       every engine's NTILE, so the unchanged DuckDB ntile oracle still
       gates it.

    The sketch alternative for when even the rank pass is too much:
    approx_percentile cutpoints (Q:`approx_quantiles`)."""
    from ffi_etl_spark.operators.textops import global_cumsum_exclusive

    ev = (
        table(spark, sf_dir, "events")
        .select("value", "event_id")
        .withColumn("_one", F.lit(1))
    )
    ranked = global_cumsum_exclusive(ev, ["value", "event_id"], "_one", out_col="_r0")
    n1 = F.broadcast(ev.agg(F.count(F.lit(1)).alias("_n")))
    r = F.col("_r0") + 1  # 1-based global rank
    q = F.floor(F.col("_n") / 10).cast("long")  # small-bucket size
    m = F.col("_n") % 10  # number of (q+1)-sized buckets
    cut = m * (q + 1)  # rows covered by the bigger buckets
    q_safe = F.greatest(q, F.lit(1))  # r > cut implies q >= 1; guards ANSI div-by-0
    decile = F.when(r <= cut, F.floor((r + q) / (q + 1))).otherwise(
        m + F.floor(((r - cut) + q_safe - 1) / q_safe)
    )
    return (
        ranked.crossJoin(n1)
        .select("value", decile.cast("int").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("decile")
    )




@query(
    "chunk_documents",
    oracle=r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), starts AS (
  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks), 1), 32)) AS s
  FROM toked
)
SELECT doc_id,
       ((s - 1) / 32)::BIGINT AS chunk_idx,
       array_to_string(toks[s : s + 63], ' ') AS chunk_text,
       len(string_split_regex(array_to_string(toks[s : s + 63], ' '), '\s+'))::INT AS n_tokens
FROM starts
ORDER BY doc_id, chunk_idx
""",
)
def _chunk_documents(spark, sf_dir):
    """Sliding 64-token windows at stride 32 per document
    (operators/textops.py::chunk_documents). DuckDB slice ``[s:s+63]``
    is inclusive-end = Spark ``slice(toks, s, 64)``; chunk_idx is the
    0-based window ordinal (posexplode == (s-1)/stride)."""
    from ffi_etl_spark.operators.textops import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return (
        chunk_documents(docs, chunk_tokens=64, stride=32)
        .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "term_collocations",
    oracle=r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
), pos AS (
  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM toked WHERE len(toks) >= 2
), pd AS (
  SELECT toks, i, unnest(generate_series(1, least(3, len(toks) - i))) AS d FROM pos
), pc AS (
  SELECT toks[i] AS a, toks[i + d] AS b, COUNT(*) AS n_ab
  FROM pd GROUP BY 1, 2 HAVING COUNT(*) >= 5
), uni AS (
  SELECT unnest(toks) AS term FROM toked
), uc AS (
  SELECT term, COUNT(*) AS n FROM uni GROUP BY term
), scored AS (
  SELECT pc.a, pc.b, pc.n_ab, ua.n AS n_a, ub.n AS n_b,
         (pc.n_ab * 2)::DOUBLE / (ua.n + ub.n)::DOUBLE AS dice
  FROM pc JOIN uc ua ON pc.a = ua.term JOIN uc ub ON pc.b = ub.term
)
SELECT * FROM scored ORDER BY dice DESC, a, b LIMIT 50
""",
)
def _term_collocations(spark, sf_dir):
    """Top-50 within-3-token collocations by Dice coefficient
    (operators/textops.py::term_collocations): exact integer counts,
    one double division — the transcendental-free collocation score
    that survives the value-hash gate."""
    from ffi_etl_spark.operators.textops import term_collocations

    docs = table(spark, sf_dir, "documents")
    return term_collocations(docs, window=3, min_count=5, k=50).orderBy(
        F.desc("dice"), "a", "b"
    )


# --- semi-structured: VARIANT binary encoding (Spark 4) -----------------------

@query(
    "variant_extract_agg",
    oracle="""
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def _variant_extract_agg(spark, sf_dir):
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    ``parse_json`` decodes each props document ONCE into the binary
    Variant encoding, then ``try_variant_get`` path reads are
    O(field-offset) lookups instead of per-access string re-parses —
    the shape that makes wide semi-structured scans tractable at 100 TB
    (parse once in the scan projection, read many paths downstream).
    Same aggregate semantics as `json_extract_agg`'s get_json_object
    form; the oracle is shared JSON-path SQL."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count("_k").alias("n_with_k"),
            F.sum("_k").alias("k_sum"),
        )
        .orderBy("event_type")
    )


# --- native session windows (gap-merged) --------------------------------------

@query(
    "session_window_agg",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM o
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS value_sum_micros
FROM s GROUP BY user_id, grp
""",
)
def _session_window_agg(spark, sf_dir):
    """Gap-based sessions via Spark's NATIVE ``session_window``
    aggregation — the engine-managed merge (one shuffle on
    (user, window), SessionWindowStateStore in streaming) beside the
    lag+cumsum formulation `sessionize` uses. The merge rule is
    inclusive at the boundary: an event EXACTLY gap after the previous
    one still merges (locked by test_session_window_splits_at_exact_gap
    — the [start, last+gap) windows are treated as closed for overlap),
    i.e. the same strict-> split as `sessionize`; the distinct surface
    is the window struct (end = last event + gap) and the native
    state-store execution. Bounds are epoch-micros BIGINTs; the value
    sum is aggregated in exact integer micros (canonicalizer-proof,
    partition-order-independent)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor() on both engines — a bare double→long cast truncates
            # in Spark but rounds in DuckDB, diverging on x.999… reprs
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("value_sum_micros"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("_w.start")).alias("session_start_us"),
            F.unix_micros(F.col("_w.end")).alias("session_end_us"),
            "n_events",
            "value_sum_micros",
        )
    )


# --- recursive CTE: hierarchy traversal (Spark 4) -----------------------------

_ORG_DEPTH_SQL = """
WITH RECURSIVE org(id, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, o.root, o.depth + 1
  FROM customer c JOIN org o ON CAST(c.c_custkey / 10 AS BIGINT) = o.id
  WHERE c.c_custkey >= 10
)
SELECT id, root, depth FROM org
"""


@query(
    "recursive_org_depth",
    oracle="""
WITH RECURSIVE org(id, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, o.root, o.depth + 1
  FROM customer c JOIN org o ON CAST(FLOOR(c.c_custkey / 10) AS BIGINT) = o.id
  WHERE c.c_custkey >= 10
)
SELECT id, root, CAST(depth AS INT) AS depth FROM org
""",
)
def _recursive_org_depth(spark, sf_dir):
    """Hierarchy traversal with a RECURSIVE CTE (Spark 4): a synthetic
    reporting chain over customer (manager = custkey div 10, roots
    below 10) resolved to (node, root, depth) in SQL — the org-chart /
    BOM shape. Each recursion level is one join keyed on the manager
    id; levels here are log10(n) deep, so the iterative plan is a
    handful of broadcast-friendly self-joins, not a driver loop. The
    engine's iterative-operator alternative (label-propagation style)
    remains operators/graph.py; this gates the declarative SQL surface.
    Spark integer division `/` + CAST matches DuckDB FLOOR()/CAST."""
    load_tables(spark, sf_dir, names=("customer",))
    return spark.sql(_ORG_DEPTH_SQL)


# --- LATERAL correlated subquery: per-key top-k in SQL ------------------------

_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) t
WHERE c.c_custkey % 50 = 0
"""


@query(
    "lateral_topk_orders",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) t
WHERE c.c_custkey % 50 = 0
""",
)
def _lateral_topk_orders(spark, sf_dir):
    """Correlated LATERAL subquery with per-key ORDER BY + LIMIT — the
    SQL spelling of grouped top-k. Catalyst decorrelates it to a
    window rank ≤ 3 over the joined orders (WindowGroupLimit prunes
    rank materialization), so the physical plan is the same
    shuffle-once shape as the DataFrame row_number formulation — no
    per-customer re-scan of orders, which is what a naive nested-loop
    reading of LATERAL would do at 100 TB."""
    load_tables(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(_LATERAL_TOPK_SQL)
