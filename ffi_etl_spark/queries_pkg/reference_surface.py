"""Queries exercising the reference's operator surface (SURVEY.md §2)
mapped onto the driver testdata tables (FIXTURES.md Fixture D mapping).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.functions.cleaning import clean_strings
from ffi_etl_spark.functions.recode import bucketize, map_lookup, zip5
from ffi_etl_spark.operators.census import merge_census
from ffi_etl_spark.operators.rollup import demographic_rollup, rollup_all
from ffi_etl_spark.operators.validity import split_valid, validity_cascade
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import jround


# --- A1-A5: demographic roll-up (flagship; utils.py:190-223) -----------------
# Demographic = customer market segment, with negative-balance customers
# recoded to "Unknown" to exercise the excl-unknown denominator + blank
# Total Responses semantics.

@query(
    "rollup_demographic",
    oracle="""
WITH base AS (
  SELECT CASE WHEN c_acctbal < 0 THEN 'Unknown' ELSE c_mktsegment END AS "Category"
  FROM customer
), g AS (
  SELECT "Category", COUNT(*) AS "# of Survey Responses" FROM base GROUP BY "Category"
), t AS (
  SELECT g.*,
         SUM(CASE WHEN "Category" <> 'Unknown' THEN "# of Survey Responses" END) OVER () AS total_excl
  FROM g
)
SELECT 'Segment' AS "Demographic",
       "Category",
       "# of Survey Responses",
       printf('%.2f%%', CAST(round(try_cast(CAST(("# of Survey Responses" * 100.0 / total_excl) AS VARCHAR) AS DECIMAL(30,12)), 2) AS DOUBLE)) AS "% of Survey Responses",
       CASE WHEN "Category" <> 'Unknown' THEN CAST(total_excl AS VARCHAR) ELSE '' END AS "Total Responses"
FROM t
ORDER BY "Category" DESC
""",
)
def _rollup_demographic(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").withColumn(
        "segment",
        F.when(F.col("c_acctbal") < 0, "Unknown").otherwise(F.col("c_mktsegment")),
    )
    return demographic_rollup(cust, "segment", "Segment")


# --- P1/D2/D3/F3-F5: cleaning pass (transform_alchemer_data.py:20-39) --------

@query(
    "clean_text",
    oracle=r"""
SELECT doc_id,
       CASE WHEN trim(regexp_replace(lower(
                 regexp_replace(regexp_replace(text, 'â€™', '''', 'g'), 'Ã', 'i', 'g')
            ), '[^\w\s]', '', 'g'))
            IN ('na','n/a','not applicable','no response','does not apply','no thank you',
                'no thanks','no comment','it dont','none','i have no idea','no idea','no time',
                'no realmente','nada mas que agregarnot really','nothing','-','','i not to say',
                'nope','no','no I do not','nothings','nan')
            THEN NULL
            WHEN regexp_replace(regexp_replace(text, 'â€™', '''', 'g'), 'Ã', 'i', 'g') = 'nan'
            THEN NULL
            ELSE regexp_replace(regexp_replace(text, 'â€™', '''', 'g'), 'Ã', 'i', 'g')
       END AS text,
       lang, source, n_chars
FROM documents
""",
)
def _clean_text(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return clean_strings(docs, open_text_cols=["text", "not_a_column"])


# --- D1/F11: native Likert scoring + domain means ----------------------------
# (utils.py:159-181, transform_alchemer_data.py:62-75) mapped onto lineitem
# flag columns; the UDF becomes a literal-map lookup.

@query(
    "likert_scores",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE l_returnflag WHEN 'R' THEN -1 WHEN 'N' THEN 0 WHEN 'A' THEN 1 ELSE 0 END
         AS flag_score,
       CASE l_linestatus WHEN 'O' THEN 1 WHEN 'F' THEN -1 ELSE 0 END AS status_score,
       round((CASE l_returnflag WHEN 'R' THEN -1 WHEN 'N' THEN 0 WHEN 'A' THEN 1 ELSE 0 END
            + CASE l_linestatus WHEN 'O' THEN 1 WHEN 'F' THEN -1 ELSE 0 END) / 2.0, 2)
         AS domain_mean
FROM lineitem
""",
)
def _likert_scores(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    flag = map_lookup("l_returnflag", {"R": -1, "N": 0, "A": 1}, 0).cast("int")
    status = map_lookup("l_linestatus", {"O": 1, "F": -1}, 0).cast("int")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        flag.alias("flag_score"),
        status.alias("status_score"),
        F.round((flag + status) / 2.0, 2).alias("domain_mean"),
    )


# --- F1/F7/F12: first-match-wins bucketing + zip recode ----------------------
# (transform_alchemer_data.py:153-196) on customer.

@query(
    "bucket_balance",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal <= 0 THEN 'Unknown'
            WHEN c_acctbal < 1000 THEN 'Less than 1000'
            WHEN c_acctbal < 3000 THEN '1000 to 2999'
            WHEN c_acctbal < 5000 THEN '3000 to 4999'
            WHEN c_acctbal < 8000 THEN '5000 to 7999'
            WHEN c_acctbal < 10000 THEN '8000 to 9999'
            ELSE 'Unknown' END AS balance_bucket,
       CASE WHEN lpad(CAST(c_custkey % 100000 AS VARCHAR), 9, '0') IS NULL
              OR try_cast(substr(lpad(CAST(c_custkey % 100000 AS VARCHAR), 9, '0'), 1, 5) AS INT) = 0
            THEN 'Unknown'
            ELSE substr(lpad(CAST(c_custkey % 100000 AS VARCHAR), 9, '0'), 1, 5)
       END AS zip5
FROM customer
""",
)
def _bucket_balance(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    bucket = bucketize(
        bal,
        [
            (bal <= 0, "Unknown"),
            (bal < 1000, "Less than 1000"),
            (bal < 3000, "1000 to 2999"),
            (bal < 5000, "3000 to 4999"),
            (bal < 8000, "5000 to 7999"),
            (bal < 10000, "8000 to 9999"),
        ],
        "Unknown",
    )
    zip_str = F.lpad((F.col("c_custkey") % 100000).cast("string"), 9, "0")
    return cust.select(
        "c_custkey",
        bucket.alias("balance_bucket"),
        zip5(zip_str).alias("zip5"),
    )


# --- F1 cascade + P2/P3 split: validity (transform_alchemer_data.py:201-224,
# rollup_alchemer_data.py:74-81) mapped onto orders.

def _orders_with_validity(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    admin = F.when(F.col("o_totalprice") > 400000, "ok").otherwise(F.lit(None).cast("string"))
    status = (
        F.when(F.col("o_orderstatus") == "O", "Complete")
        .when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "5-LOW"),
            "Abandoned",
        )
        .when(F.col("o_orderstatus") == "F", "Partial")
        .otherwise("Disqualified")
    )
    link = F.when(F.col("o_orderkey") % 97 == 0, "Test link").otherwise("Email")
    country = F.when(F.col("o_custkey") % 50 == 0, "Canada").otherwise("United States")
    return o.withColumn("Is_Invalid", validity_cascade(admin, status, link, country))

_VALIDITY_CASE = """
    CASE
      WHEN upper(CASE WHEN o_totalprice > 400000 THEN 'ok' END) = 'OK'
        OR upper(CASE WHEN o_totalprice > 400000 THEN 'ok' END) = 'VALID' THEN 'Valid'
      WHEN status = 'Partial' THEN 'Survey status is partially completed'
      WHEN status = 'Disqualified' THEN 'Disqualified in Alchemer'
      WHEN status <> 'Complete' THEN 'Survey status is ' || status
      WHEN (CASE WHEN o_orderkey % 97 = 0 THEN 'Test link' ELSE 'Email' END) IN ('Test link','Test')
        THEN 'Survey was submitted via test link'
      WHEN (CASE WHEN o_custkey % 50 = 0 THEN 'Canada' ELSE 'United States' END) <> 'United States'
        THEN 'IP address outside USA'
      ELSE 'Valid'
    END
"""

_VALIDITY_BASE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderkey AS _k,
         CASE WHEN o_orderstatus = 'O' THEN 'Complete'
              WHEN o_orderstatus = 'F' AND o_orderpriority = '5-LOW' THEN 'Abandoned'
              WHEN o_orderstatus = 'F' THEN 'Partial'
              ELSE 'Disqualified' END AS status
  FROM orders
), flagged AS (
  SELECT o_orderkey, {_VALIDITY_CASE} AS "Is_Invalid" FROM base
)
"""


@query("validity_cascade", oracle=_VALIDITY_BASE + 'SELECT * FROM flagged')
def _validity(spark, sf_dir):
    return _orders_with_validity(spark, sf_dir).select("o_orderkey", "Is_Invalid")


@query(
    "valid_split",
    oracle=_VALIDITY_BASE
    + """SELECT o_orderkey, "Is_Invalid" FROM flagged WHERE "Is_Invalid" = 'Valid'""",
)
def _valid_split(spark, sf_dir):
    valid, _ = split_valid(_orders_with_validity(spark, sf_dir))
    return valid.select("o_orderkey", "Is_Invalid")


@query(
    "invalid_split",
    oracle=_VALIDITY_BASE
    + """SELECT o_orderkey, "Is_Invalid" FROM flagged WHERE "Is_Invalid" <> 'Valid'""",
)
def _invalid_split(spark, sf_dir):
    _, invalid = split_valid(_orders_with_validity(spark, sf_dir))
    return invalid.select("o_orderkey", "Is_Invalid")


# --- P4-P8: projections, renames, drops, key prefixing -----------------------
# (extract_alchemer_data.py:14,46; transform_alchemer_data.py:229-230;
#  rollup_alchemer_data.py:97-98)

@query(
    "project_rename_prefix",
    oracle="""
SELECT 'Offline #' || CAST(p_partkey AS VARCHAR) AS "Part Key",
       p_name AS "Part Name", p_brand AS "Brand", p_size
FROM part
""",
)
def _project_rename_prefix(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    renamed = p.withColumnsRenamed({"p_name": "Part Name", "p_brand": "Brand"}).drop(
        "p_type", "p_retailprice"
    )
    return renamed.select(
        F.concat(F.lit("Offline #"), F.col("p_partkey").cast("string")).alias("Part Key"),
        "Part Name",
        "Brand",
        "p_size",
    )


# --- A2-A4: driver-scalar aggregates as one lazy plan ------------------------
# (utils.py:207,211; merge_census.py:129-131 + F10 date_format)

@query(
    "global_stats",
    oracle="""
SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_cents,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_not_returned,
       strftime(MAX(l_shipdate), '%m/%d/%Y') AS last_ship
FROM lineitem
""",
)
def _global_stats(spark, sf_dir):
    """The quantity sum is aggregated in DECIMAL(18,2) (deterministic
    regardless of partition order, unlike a DOUBLE sum) and emitted as
    integer hundredths: a BIGINT hashes identically under any harness
    canonicalizer, where a bare DOUBLE aggregate's repr ('1524135.0' vs
    '1.52414e+06' vs Decimal) can diverge between fetch paths even when
    the value is exact on both sides."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100).cast("long").alias("sum_qty_cents"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0)).alias("n_not_returned"),
        F.date_format(F.max("l_shipdate"), "MM/dd/yyyy").alias("last_ship"),
    )


# --- W1: first(ignorenulls) backfill window (merge_census.py:29-39) ----------

@query(
    "window_backfill_first",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS v
  FROM orders
)
SELECT o_orderkey, o_custkey, v,
       first_value(v IGNORE NULLS) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS backfilled
FROM base
""",
)
def _window_backfill_first(spark, sf_dir):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    v = F.when(F.col("o_orderstatus") == "O", None).otherwise(F.col("o_totalprice"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        v.alias("v"),
        F.first(v, ignorenulls=True).over(w).alias("backfilled"),
    )


# --- W2: row_number with nulls-last custom ordering (merge_census.py:144-153) -

@query(
    "window_rownum_order",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_totalprice END AS sort_v
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
       ROW_NUMBER() OVER (
         PARTITION BY o_orderpriority
         ORDER BY sort_v ASC NULLS LAST, o_orderkey ASC) AS row_num
FROM base
""",
)
def _window_rownum_order(spark, sf_dir):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    sort_v = F.when(F.col("o_orderstatus") == "F", None).otherwise(F.col("o_totalprice"))
    w = Window.partitionBy("o_orderpriority").orderBy(
        sort_v.asc_nulls_last(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("row_num"),
    )


# --- F8-F10: timestamp format/parse round-trip + duration --------------------
# (transform_alchemer_data.py:44-56 under LEGACY parser)

@query(
    "timestamp_roundtrip",
    oracle="""
WITH base AS (
  SELECT event_id,
         strftime(CAST(ts AS TIMESTAMP), '%m/%d/%Y %-I:%M:%S %p') AS ts_str
  FROM events
), parsed AS (
  SELECT event_id, ts_str, strptime(ts_str, '%m/%d/%Y %-I:%M:%S %p') AS t FROM base
)
SELECT event_id, ts_str,
       round((epoch(t) - epoch(date_trunc('day', t))) / 60) AS minutes_since_midnight
FROM parsed
""",
)
def _timestamp_roundtrip(spark, sf_dir):
    fmt = "MM/dd/yyyy h:mm:ss a"
    ev = table(spark, sf_dir, "events")
    ts_str = F.date_format("ts", fmt)
    parsed = F.to_timestamp(ts_str, fmt)
    return ev.select(
        "event_id",
        ts_str.alias("ts_str"),
        F.round(
            (F.unix_timestamp(parsed) - F.unix_timestamp(F.date_trunc("DAY", parsed))) / 60
        ).alias("minutes_since_midnight"),
    )


# --- U1 + A1-A5: multi-demographic union roll-up -----------------------------
# (rollup_alchemer_data.py:87-98)

_ROLLUP_CTE = """
  SELECT '{name}' AS "Demographic", "Category",
         "# of Survey Responses",
         printf('%.2f%%', CAST(round(try_cast(CAST(("# of Survey Responses" * 100.0 / total_excl) AS VARCHAR) AS DECIMAL(30,12)), 2) AS DOUBLE)) AS "% of Survey Responses",
         CASE WHEN "Category" <> 'Unknown' THEN CAST(total_excl AS VARCHAR) ELSE '' END AS "Total Responses"
  FROM (
    SELECT "Category", "# of Survey Responses",
           SUM(CASE WHEN "Category" <> 'Unknown' THEN "# of Survey Responses" END) OVER () AS total_excl
    FROM (SELECT {expr} AS "Category", COUNT(*) AS "# of Survey Responses" FROM cust_n GROUP BY 1)
  )
"""

_UNION_ROLLUP_ORACLE = (
    """
WITH cust_n AS (
  SELECT c.*, n.n_name,
         CASE WHEN c_acctbal < 0 THEN 'Unknown' ELSE c_mktsegment END AS seg_recode,
         CASE WHEN c_acctbal <= 0 THEN 'Unknown'
              WHEN c_acctbal < 5000 THEN 'Low' ELSE 'High' END AS bal_bucket
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
"""
    + _ROLLUP_CTE.format(name="Segment", expr="seg_recode")
    + " UNION ALL "
    + _ROLLUP_CTE.format(name="Nation", expr="n_name")
    + " UNION ALL "
    + _ROLLUP_CTE.format(name="Balance", expr="bal_bucket")
)


@query("union_rollup_multi", oracle=_UNION_ROLLUP_ORACLE)
def _union_rollup_multi(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    bal = F.col("c_acctbal")
    cust_n = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .withColumn(
            "seg_recode",
            F.when(bal < 0, "Unknown").otherwise(F.col("c_mktsegment")),
        )
        .withColumn(
            "bal_bucket",
            F.when(bal <= 0, "Unknown").when(bal < 5000, "Low").otherwise("High"),
        )
    )
    return rollup_all(
        cust_n,
        [("seg_recode", "Segment"), ("n_name", "Nation"), ("bal_bucket", "Balance")],
    )


# --- J2 + W1/W2 + F2/F6/F11/F12: the full census merge -----------------------
# (merge_census.py end-to-end). Census analog = supplier share per nation;
# survey analog = customer roll-up per nation. Filters force both outer-join
# sides to exist at every scale factor. JROUND in the oracle replicates
# Spark's F.round (BigDecimal-on-shortest-repr, HALF_UP).

def _merged_select(s2_note: str = "") -> str:
    """merge_census.py's steps after the census ⟗ roll-up join, over
    ``j`` (the joined rows) and ``md`` (the latest response date): gap
    fill, key consolidation, the representation columns, and the gold
    SELECT."""
    return f"""s1 AS (
  SELECT cd, cc, census_pct_str, display_order, rd, rc,
    CASE WHEN rd IS NULL AND rc IS NULL
         THEN first_value(total_resp IGNORE NULLS) OVER (
              PARTITION BY cd ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ELSE total_resp END AS total_resp,
    CASE WHEN rd IS NULL AND rc IS NULL THEN 0 ELSE n_resp END AS n_resp,
    CASE WHEN rd IS NULL AND rc IS NULL THEN '0' ELSE pct_resp END AS pct_resp
  FROM j
), s2 AS (
{s2_note}  SELECT total_resp, n_resp, pct_resp, display_order,
    CASE WHEN cd IS NULL AND cc IS NULL THEN NULL ELSE census_pct_str END AS census_pct_str,
    COALESCE(cd, rd) AS "Demographic", COALESCE(cc, rc) AS "Category"
  FROM s1
), s4 AS (
  SELECT "Demographic", "Category", n_resp AS "# of Survey Responses",
         total_resp AS "Total Responses", display_order,
         try_cast(regexp_replace(census_pct_str, '%', '', 'g') AS DOUBLE) AS census_pct,
         try_cast(regexp_replace(pct_resp, '%', '', 'g') AS DOUBLE) AS survey_pct
  FROM s2
), s5 AS (
  SELECT *, CASE WHEN census_pct IS NOT NULL AND survey_pct IS NOT NULL
                 THEN survey_pct - census_pct END AS diff
  FROM s4
), s6 AS (
  SELECT *,
    CASE WHEN diff < -5 THEN 'Under-Represented'
         WHEN diff > 5 THEN 'Over-Represented'
         WHEN diff > -5 AND diff < 5 THEN 'Looks Good' END AS "Representation Status"
  FROM s5
), s7 AS (
  SELECT *, CASE WHEN "Representation Status" IN ('Under-Represented', 'Over-Represented')
                 THEN {jround('abs(diff * try_cast("Total Responses" AS DOUBLE) / 100)', 0, 12)}
            END AS arn0
  FROM s6
)
SELECT "Demographic", "Category", "# of Survey Responses",
       {jround('survey_pct', 1, 12)} || '%' AS "% of Survey Responses",
       "Total Responses",
       {jround('census_pct', 1, 12)} || '%' AS "% of Population (Census)",
       {jround('diff', 1, 12)} || '%' AS "% Difference",
       "Representation Status",
       {jround(jround("arn0 / 10", 0, 12) + " * 10", 0, 12)} AS "Additional Responses Needed",
       strftime(maxd, '%m/%d/%Y') AS "Data Last Updated"
FROM s7, md
"""


_S2_NOTE = """  -- two-sided key consolidation (merge_census.py:38-39,49-54); the :60-68
  -- re-fill is dead after it (condition references coalesced keys) and the
  -- engine mirrors that, so it is omitted here
"""

_CENSUS_ORACLE = f"""
WITH cust_n AS (
  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_nationkey < 20
), g AS (
  SELECT n_name AS cat, COUNT(*) AS cnt FROM cust_n GROUP BY 1
), t AS (
  SELECT g.*, SUM(CASE WHEN cat <> 'Unknown' THEN cnt END) OVER () AS total_excl FROM g
), rollup AS (
  SELECT 'Nation' AS rd, cat AS rc,
         cnt AS n_resp,
         printf('%.2f%%', {jround('cnt * 100.0 / total_excl', 2, 12)}) AS pct_resp,
         CASE WHEN cat <> 'Unknown' THEN CAST(total_excl AS VARCHAR) ELSE '' END AS total_resp
  FROM t
), sc AS (
  SELECT n_name, n_nationkey, n_regionkey, COUNT(*) AS scnt
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_nationkey >= 5
  GROUP BY 1, 2, 3
), census AS (
  SELECT 'Nation' AS cd, n_name AS cc,
         printf('%.1f%%', {jround('scnt * 100.0 / SUM(scnt) OVER ()', 1, 12)}) AS census_pct_str,
         CASE WHEN n_regionkey = 2 THEN NULL ELSE n_nationkey END AS display_order
  FROM sc
), j AS (
  SELECT * FROM census FULL OUTER JOIN rollup ON cd = rd AND cc = rc
), md AS (SELECT max(o_orderdate) AS maxd FROM orders),
{_merged_select(_S2_NOTE)}"""


@query("census_merge", oracle=_CENSUS_ORACLE)
def _census_merge(spark, sf_dir):
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 20)
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")

    cust_n = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    rollup = demographic_rollup(cust_n, "n_name", "Nation")

    supp_n = (
        supplier.join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .filter(F.col("n_nationkey") >= 5)
        .groupBy("n_name", "n_nationkey", "n_regionkey")
        .agg(F.count(F.lit(1)).alias("scnt"))
    )
    census = supp_n.select(
        F.lit("Nation").alias("Demographic"),
        F.col("n_name").alias("Category"),
        F.format_string(
            "%.1f%%",
            F.col("scnt") * 100.0 / F.sum("scnt").over(Window.partitionBy()),
        ).alias("Census %"),
        F.when(F.col("n_regionkey") == 2, None)
        .otherwise(F.col("n_nationkey"))
        .alias("Display Order"),
    )
    return merge_census(census, rollup, orders, "o_orderdate")


# --- headline OLAP perf queries (scan→agg and join→agg spines) ---------------
# Aggregates go through DECIMAL so sums are order-independent (exact),
# then back to DOUBLE — deterministic across partitionings and vs DuckDB.

@query(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4))))
            AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))
                     * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(6,4))))
                 AS DECIMAL(28,6))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def _tpch_q1(spark, sf_dir):
    # disc_price/charge run in DECIMAL end-to-end: the earlier
    # double-expression-then-cast-to-decimal(27,8) form hit a per-row
    # half-tie in the 8th decimal at sf0.1, where Spark's HALF_UP and
    # DuckDB's cast rounding disagree. All-decimal products are exact
    # (precisions sized to never overflow-round). The charge SUM is
    # additionally re-scaled to 6 decimals before the double cast:
    # discount/tax are 2-decimal data so the scale-10 sum's last four
    # digits are ZERO (the re-scale never rounds), and at scale 6 the
    # decimal's integer significand stays under 2^53 through sf0.1 —
    # DuckDB's decimal->double is a scaled integer division that
    # double-rounds above 2^53, where Java's BigDecimal conversion is
    # correctly rounded (measured divergence in the last bit).
    li = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(5,4)")
    price_dec = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_dec = F.col("l_discount").cast("decimal(6,4)")
    tax_dec = F.col("l_tax").cast("decimal(6,4)")
    disc_price = price_dec * (one - disc_dec)
    charge = disc_price * (one + tax_dec)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(28,6)").cast("double").alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            (
                F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "tpch_q3_top10",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def _tpch_q3_top10(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)")
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --- S5/S6: catalog registration + introspection -----------------------------
# (spark.table / SHOW TABLES, write_to_volume.py:7-8)

@query(
    "catalog_tables",
    oracle="""
SELECT table_name FROM information_schema.tables
WHERE table_name IN ('region','nation','customer','supplier','part','orders',
                     'lineitem','events','documents','embeddings')
""",
)
def _catalog_tables(spark, sf_dir):
    from ffi_etl_spark.catalog import TESTDATA_TABLES, load_tables

    load_tables(spark, sf_dir)
    return (
        spark.sql("SHOW VIEWS")
        .select(F.col("viewName").alias("table_name"))
        .filter(F.col("table_name").isin(*TESTDATA_TABLES))
    )


# --- J1: full-outer merge with pandas NaN-key parity --------------------------
# (extract_alchemer_data.py:19-24) mapped onto two overlapping projections
# of orders; the NULLed status column exercises the "nan"-sentinel key match.

@query(
    "merge_nan_outer_join",
    oracle="""
WITH a AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         COALESCE(CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END, 'nan') AS st,
         o_totalprice AS amount
  FROM orders WHERE o_orderkey % 3 <> 0
), b AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         COALESCE(CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END, 'nan') AS st,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT COALESCE(a.k, b.k) AS k, COALESCE(a.st, b.st) AS st, amount, priority
FROM a FULL OUTER JOIN b ON a.k = b.k AND a.st = b.st
""",
)
def _merge_nan_outer_join(spark, sf_dir):
    from ffi_etl_spark.operators.extract import merge_online_offline

    o = table(spark, sf_dir, "orders")
    st = F.when(F.col("o_orderstatus") == "F", None).otherwise(F.col("o_orderstatus"))
    a = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), st.alias("st"), F.col("o_totalprice").alias("amount")
    )
    b = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"), st.alias("st"), F.col("o_orderpriority").alias("priority")
    )
    return merge_online_offline(a, b)


# --- S1/S9: CSV sink + schema'd CSV scan round-trip ---------------------------
# (write_to_volume.py:15-16 export; extract_alchemer_data.py:8-9 ingest)

@query(
    "csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def _csv_roundtrip(spark, sf_dir):
    import tempfile, os

    from ffi_etl_spark.sources.readers import read_csv
    from ffi_etl_spark.sources.writers import single_file_csv

    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.gettempdir(), f"ffi_etl_nation_{os.path.basename(sf_dir)}.csv")
    single_file_csv(nation, path)
    return read_csv(spark, path, schema="n_nationkey int, n_name string, n_regionkey int")


@query(
    "json_roundtrip",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def _json_roundtrip(spark, sf_dir):
    """S8's JSON sink + the schema-explicit JSON source, round-tripped
    (timestamps excluded — JSON serializes them as strings; parquet is
    the typed interchange format, JSON the export format)."""
    import os
    import tempfile

    from ffi_etl_spark.sources.readers import read_json
    from ffi_etl_spark.sources.writers import single_file_json

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"ffi_etl_orders_{os.path.basename(sf_dir)}.json"
    )
    single_file_json(orders, path)
    back = read_json(
        spark, path, schema="o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


# --- S10/EP3: the SQL-string entry point over registered views ----------------
# (spark.sql(...) on catalog names — merge_census.py:16, write_to_volume.py:7)

_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,8))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("sql_tpch_q6", oracle=_Q6_SQL)
def _sql_tpch_q6(spark, sf_dir):
    from ffi_etl_spark.catalog import load_tables

    load_tables(spark, sf_dir, names=("lineitem",))
    return spark.sql(_Q6_SQL)


# --- multi-join OLAP spine (TPC-H q5 shape) -----------------------------------

@query(
    "tpch_q5",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC
""",
)
def _tpch_q5(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,8)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


# --- skew-safe two-stage aggregation ------------------------------------------
# Salting demo: COUNT/SUM decompose over a (key, salt) pre-aggregation,
# so one hot key spreads over N reducers before the final (tiny) merge.

@query(
    "salted_group_count",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def _salted_group_count(spark, sf_dir):
    from ffi_etl_spark.operators.rollup import salted_agg

    li = table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("count", F.lit(1)),
            "sum_qty": ("sum", F.col("l_quantity").cast("decimal(18,2)")),
        },
        n_salts=16,
    ).withColumn("sum_qty", F.col("sum_qty").cast("double"))


# --- incremental MERGE/upsert (the engine's beyond-overwrite path) ------------

@query(
    "upsert_merge",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
UNION ALL
SELECT * FROM updates
""",
)
def _upsert_merge(spark, sf_dir):
    from ffi_etl_spark.operators.upsert import upsert

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    updates = o.filter(F.col("o_orderkey") % 3 == 0).withColumns(
        {"o_orderstatus": F.lit("U"), "o_totalprice": F.col("o_totalprice") * 2}
    )
    return upsert(target, updates, ["o_orderkey"])


# --- semi/anti joins (absent from the reference; engine breadth) --------------

@query(
    "semi_anti_join",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            THEN 'has_orders' ELSE 'no_orders' END AS order_flag
FROM customer c
""",
)
def _semi_anti_join(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    with_orders = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).withColumn("order_flag", F.lit("has_orders"))
    without = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).withColumn("order_flag", F.lit("no_orders"))
    return with_orders.unionByName(without).select("c_custkey", "c_mktsegment", "order_flag")


# --- TPC-H q18 shape: group-by-having feeding a semi-join ---------------------

@query(
    "tpch_q18_top",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM big)
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def _tpch_q18_top(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --- EP1 end-to-end: the full survey medallion pipeline ----------------------
# (README.py:8-11 — extract → transform → roll_up → merge_census as ONE
# driver-gated query). Survey-shaped inputs are derived deterministically
# from `customer` with modular-arithmetic case selection so every
# transform branch (recode / bucket / validity / null-phrase / mojibake /
# fused-phrase quirk) has live rows; the oracle replicates the semantics
# that reach the gold output (demographic recodes, validity cascade, the
# six-demographic roll-up, and the census merge chain — identical to
# _CENSUS_ORACLE's skeleton).

_SURVEY_PIPE_ORACLE = f"""
WITH resp AS (
  SELECT c_custkey AS k,
         -- silver recodes (cleaning is a no-op on these constructed values)
         CASE WHEN c_custkey % 7 IN (0, 2) THEN 'Unknown'
              WHEN c_custkey % 7 = 1 THEN 'Other'
              WHEN c_custkey % 7 = 3 THEN 'Man'
              ELSE 'Woman' END AS gender,
         CASE WHEN c_custkey % 11 = 0 THEN 'Hispanic or Latinx'
              WHEN c_custkey % 13 = 0 THEN 'Other race'
              WHEN c_custkey % 17 = 0 THEN 'Unknown'
              WHEN c_custkey % 19 = 0 THEN 'Unknown'
              ELSE c_mktsegment END AS race,
         CASE WHEN c_custkey % 47 = 0 THEN 'Unknown'
              WHEN c_custkey % 53 = 0 THEN 'Unknown'
              WHEN 5 + c_custkey % 90 < 10 THEN 'Less than 10 years old'
              WHEN 5 + c_custkey % 90 < 18 THEN '10 to 17 years old'
              WHEN 5 + c_custkey % 90 < 30 THEN '18 to 29 years old'
              WHEN 5 + c_custkey % 90 < 45 THEN '30 to 44 years old'
              WHEN 5 + c_custkey % 90 < 60 THEN '45 to 59 years old'
              WHEN 5 + c_custkey % 90 < 75 THEN '60 to 74 years old'
              ELSE '75 years and older' END AS age,
         CASE WHEN c_custkey % 5 IN (3, 4) THEN 'Unknown'
              WHEN c_custkey % 5 IN (0, 1) THEN 'Less than $50,000'
              ELSE '$50,000 to $74,999' END AS income,
         CASE WHEN c_custkey % 2 = 0 THEN 'English' ELSE 'Spanish' END AS language,
         CASE WHEN c_custkey % 23 = 0 THEN 'Unknown'
              ELSE 'CM ' || CAST(c_custkey % 4 AS VARCHAR) END AS cm,
         -- validity cascade: admin override, then status, link, geo
         (c_custkey % 59 = 0 OR c_custkey % 61 = 0
          OR (c_custkey % 8 NOT IN (0, 1, 2)
              AND c_custkey % 67 <> 0 AND c_custkey % 71 <> 0
              AND c_custkey % 29 <> 0)) AS is_valid,
         strptime(printf('03/%02d/2024 %02d:%02d:12 PM',
                         10 + c_custkey % 6, 1 + c_custkey % 3, c_custkey % 50),
                  '%m/%d/%Y %I:%M:%S %p') AS submitted
  FROM customer
), unpiv AS (
  SELECT 'Gender' AS demo, gender AS cat FROM resp WHERE is_valid
  UNION ALL SELECT 'Age', age FROM resp WHERE is_valid
  UNION ALL SELECT 'Race/Ethnicity', race FROM resp WHERE is_valid
  UNION ALL SELECT 'Household Income', income FROM resp WHERE is_valid
  UNION ALL SELECT 'Language', language FROM resp WHERE is_valid
  UNION ALL SELECT 'CM Name', cm FROM resp WHERE is_valid
), g AS (
  SELECT demo, cat, COUNT(*) AS cnt FROM unpiv GROUP BY 1, 2
), t AS (
  SELECT g.*, SUM(CASE WHEN cat <> 'Unknown' THEN cnt END)
                OVER (PARTITION BY demo) AS total_excl
  FROM g
), rollup AS (
  SELECT demo AS rd, cat AS rc, cnt AS n_resp,
         printf('%.2f%%', {jround('cnt * 100.0 / total_excl', 2, 12)}) AS pct_resp,
         CASE WHEN cat <> 'Unknown' THEN CAST(total_excl AS VARCHAR) ELSE '' END AS total_resp
  FROM t
), census AS (
  SELECT * FROM (VALUES
    ('Gender', 'Woman', '48.0%', 1),
    ('Gender', 'Man', '46.5%', 2),
    ('Age', '18 to 29 years old', '15.0%', 1),
    ('Age', '30 to 44 years old', '22.0%', 2),
    ('Age', '75 years and older', '2.0%', 3),
    ('Language', 'English', '58.0%', 1),
    ('Language', 'Spanish', '38.0%', 2),
    ('Language', 'French', '4.0%', NULL)
  ) AS c(cd, cc, census_pct_str, display_order)
), j AS (
  SELECT * FROM census FULL OUTER JOIN rollup ON cd = rd AND cc = rc
), md AS (SELECT max(submitted) AS maxd FROM resp),
{_merged_select()}"""


@query("survey_pipeline", oracle=_SURVEY_PIPE_ORACLE)
def _survey_pipeline(spark, sf_dir):
    """The reference's whole product as one gated query: build
    survey-shaped online/offline extracts + a census sheet, run the
    5-stage medallion Pipeline (bronze parquet warehouse between
    stages), return the census-merged roll-up gold table.

    Every silver branch gets live rows via modular case selection:
    mojibake repair, null phrases incl. the fused-phrase quirk
    (utils.py:105), the LEGACY 12-hour timestamp parse, Likert scoring
    (all 15 columns), every recode/bucket, the full validity cascade,
    blank-CM fill, and the census merge's matched / census-only /
    rollup-only paths (French is census-only; Race/Income/CM have no
    census rows)."""
    import tempfile

    from ffi_etl_spark.functions.recode import LIKERT_COLUMNS
    from ffi_etl_spark.pipelines.survey import build_survey_pipeline

    cust = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")

    def lik(j):
        m = (k + F.lit(j)) % 7
        return (
            F.when(m == 0, "No change")
            .when(m == 1, "A little better")
            .when(m == 2, "A lot better")
            .when(m == 3, "A little worse")
            .when(m == 4, "A lot worse")
            .when(m == 5, None)
            .otherwise("junk")
        )

    cols = {
        "Response ID": k.cast("string"),
        "Time Started": F.format_string("03/%02d/2024 09:01:12 AM", 10 + k % 6),
        "Survey Date Submitted": F.format_string(
            "03/%02d/2024 %02d:%02d:12 PM", 10 + k % 6, 1 + k % 3, k % 50
        ),
        "Survey Lang": F.when(k % 2 == 0, "English").otherwise("Spanish"),
        "Hispanic or Latinx": F.when(k % 11 == 0, "Yes")
        .when(k % 11 == 1, "I prefer not to answer this question")
        .otherwise("No"),
        "Race/Ethnicity": F.when(k % 13 == 0, "Some other race (please write it in here)")
        .when(k % 17 == 0, "I prefer not to answer this question")
        .when(k % 19 == 0, None)
        .otherwise(F.col("c_mktsegment")),
        "Gender": F.when(k % 7 == 0, "Prefer not to say")
        .when(k % 7 == 1, "Write In")
        .when(k % 7 == 2, None)
        .when(k % 7 == 3, "Man")
        .otherwise("Woman"),
        "CM Name": F.when(k % 23 == 0, "  ").otherwise(
            F.concat(F.lit("CM "), (k % 4).cast("string"))
        ),
        "Current living situation": F.when(k % 6 == 0, "Prefer not to say")
        .when(k % 6 == 1, None)
        .otherwise(F.concat(F.lit("Situation "), (k % 3).cast("string"))),
        "How many years lived in Kingston": F.when(
            k % 31 == 0, "I prefer not to answer this question"
        ).otherwise((k % 40).cast("string")),
        "IP Address - Zip Code": F.when(k % 37 == 0, None)
        .when(k % 41 == 0, "abcde-99")
        .when(k % 43 == 0, "00000-11")
        .otherwise(F.format_string("%05d-%04d", 10000 + k % 80000, k % 10000)),
        "IP Address - Country": F.when(k % 29 == 0, "Canada").otherwise("United States"),
        "Age": F.when(k % 47 == 0, "0")
        .when(k % 53 == 0, "abc")
        .otherwise((5 + k % 90).cast("string")),
        "Household Income": F.when(k % 5 == 0, "Less than $20,000")
        .when(k % 5 == 1, "$20,000 to $49,999")
        .when(k % 5 == 2, "$50,000 to $74,999")
        .when(k % 5 == 3, "I prefer not to answer this question")
        .otherwise(None),
        "Alchemer Admin Comments": F.when(k % 59 == 0, "ok")
        .when(k % 61 == 0, "VALID")
        .otherwise(None),
        "Survey Completed?": F.when(k % 8 == 0, "Partial")
        .when(k % 8 == 1, "Disqualified")
        .when(k % 8 == 2, "Abandoned")
        .otherwise("Complete"),
        "Survey Link Used": F.when(k % 67 == 0, "Test link")
        .when(k % 71 == 0, "Test")
        .otherwise("Email"),
        "Anything else you want to tell us?": F.when(k % 9 == 0, "N/A")
        .when(k % 9 == 1, "donâ€™t worry")
        .when(k % 9 == 2, "not really")
        .when(k % 9 == 3, "Nada Mas Que Agregarnot Really!")
        .when(k % 9 == 4, None)
        .when(k % 9 == 5, "nan")
        .otherwise(F.concat(F.lit("answer "), k.cast("string"))),
        **{name: lik(j) for j, name in enumerate(LIKERT_COLUMNS)},
    }
    base = cust.select(k.alias("_k"), *[v.alias(n) for n, v in cols.items()])
    online = base.filter(F.col("_k") % 10 != 0).drop("_k")
    offline = base.filter(F.col("_k") % 10 == 0).drop("_k")
    # ONE slice (round 13): createDataFrame's default parallelize
    # splits these 8 rows across defaultParallelism partitions, so
    # every broadcast of the census table inside the pipeline ran a
    # 32-task job — same fix as similarity._materialize_k_rows
    census = spark.createDataFrame(
        spark.sparkContext.parallelize([
            ("Gender", "Woman", "48.0%", 1),
            ("Gender", "Man", "46.5%", 2),
            ("Age", "18 to 29 years old", "15.0%", 1),
            ("Age", "30 to 44 years old", "22.0%", 2),
            ("Age", "75 years and older", "2.0%", 3),
            ("Language", "English", "58.0%", 1),
            ("Language", "Spanish", "38.0%", 2),
            ("Language", "French", "4.0%", None),
        ], 1),
        "`Demographic` string, `Category` string, `Census %` string, `Display Order` int",
    )
    pipe = build_survey_pipeline(
        warehouse=tempfile.mkdtemp(prefix="survey_wh_"),
        open_text_cols=["Anything else you want to tell us?", "not a real column"],
        cols_to_delete=["How many years lived in Kingston"],
        rename_map={"Survey Lang": "Survey Language"},
    )
    tables = pipe.run(spark, {"online": online, "offline": offline, "census": census})
    return tables["census_merged_roll_up"]
