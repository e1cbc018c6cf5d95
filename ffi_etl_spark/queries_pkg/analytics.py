"""Product/corpus analytics queries: deterministic mode, month-over-month
trends, activity-gap detection, Heaps vocabulary growth, similarity
distribution, engagement stickiness, and Pareto concentration.

The BI/analytics layer a platform team runs ON TOP of the engine's
operator families — every query composes existing shapes (keyed
windows over post-aggregation rows, broadcast scalar stats, exact
integer ratios) and carries a full DuckDB oracle. Parity rules as
everywhere: integer arithmetic wherever a value feeds membership or
ordering; exact-decimal sums cast to double only at the edge;
partition-order-accumulated floats never leave raw.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import minhash_pairs_cte

# ---------------------------------------------------------------------------
# Deterministic mode (most frequent value per group)
# ---------------------------------------------------------------------------


@query(
    "mode_agg",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rk
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM r WHERE rk = 1 ORDER BY o_orderstatus
""",
)
def _mode_agg(spark, sf_dir):
    """Mode per group, made DETERMINISTIC: count + row_number with a
    min-value tie-break — the built-in `mode()` aggregate leaves ties
    engine-defined (Spark and DuckDB disagree), so this is the form a
    cross-engine pipeline must use. One count aggregate, then a K-row
    keyed window; WindowGroupLimit keeps only the winner."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Month-over-month trend
# ---------------------------------------------------------------------------


@query(
    "percent_change_mom",
    oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders GROUP BY date_trunc('month', o_orderdate)
), l AS (
  SELECT month, total, lag(total) OVER (ORDER BY month) AS prev FROM m
)
SELECT month, total,
       CASE WHEN prev IS NULL THEN NULL
            ELSE printf('%.6f', (total - prev) / prev) END AS mom_pct
FROM l ORDER BY month
""",
)
def _percent_change_mom(spark, sf_dir):
    """Month-over-month revenue change — the lag-window trend report.
    Monthly totals are exact decimal sums (cast to double only at the
    edge, so both engines hold the identical value); the MoM ratio is a
    division of those bit-equal doubles, emitted as a %.6f string with
    the first month NULL on both engines. The lag window runs over the
    ~80 post-aggregation month rows, not the fact table."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total")
    )
    w = Window.orderBy(F.col("month"))
    pct = (F.col("total") - F.col("prev")) / F.col("prev")
    return (
        m.select(F.date_format("mon", "yyyy-MM").alias("month"), "total")
        .withColumn("prev", F.lag("total").over(w))
        .select(
            "month",
            "total",
            F.when(F.col("prev").isNotNull(), F.format_string("%.6f", pct)).alias(
                "mom_pct"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Per-user activity gap detection
# ---------------------------------------------------------------------------


@query(
    "activity_gaps",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), l AS (
  SELECT user_id, day,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
  FROM d
)
SELECT user_id,
       strftime(day + 1, '%Y-%m-%d') AS gap_start,
       strftime(nxt - 1, '%Y-%m-%d') AS gap_end,
       CAST(nxt - day - 1 AS BIGINT) AS n_missing_days
FROM l WHERE nxt - day > 1
ORDER BY user_id, gap_start
""",
)
def _activity_gaps(spark, sf_dir):
    """Per-user inactivity windows (the churn-risk signal): collapse
    events to distinct (user, active-day), then each user's calendar
    gaps via lead() — a user-keyed window over day-level rows, so the
    state per key is bounded by the calendar, not the event volume.
    Pure integer date arithmetic; both engines agree exactly."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    gap_days = F.datediff(F.col("nxt"), F.col("day")) - 1
    return (
        d.withColumn("nxt", F.lead("day").over(w))
        .filter(F.datediff(F.col("nxt"), F.col("day")) > 1)
        .select(
            "user_id",
            F.date_format(F.date_add("day", 1), "yyyy-MM-dd").alias("gap_start"),
            F.date_format(F.date_sub("nxt", 1), "yyyy-MM-dd").alias("gap_end"),
            gap_days.cast("long").alias("n_missing_days"),
        )
        .orderBy("user_id", "gap_start")
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
), firstocc AS (
  SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term
), maxid AS (
  SELECT MAX(doc_id) AS mx FROM documents
), bucketed AS (
  -- floor, never CAST: DuckDB CAST(1.5 AS INT) rounds half-up while
  -- Spark's int cast truncates — the repo's floor() rule applies
  SELECT CAST(floor((f.first_doc * 10) / (m.mx + 1)) AS INT) AS bucket
  FROM firstocc f CROSS JOIN maxid m
), counts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM bucketed GROUP BY bucket
)
SELECT bucket, new_terms,
       CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
FROM counts ORDER BY bucket
"""


@query("vocab_growth", oracle=_VOCAB_ORACLE)
def _vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve: how many NEW distinct terms
    each tenth of the corpus (by doc id) contributes, plus the running
    vocabulary size — the saturation signal that tells a data team
    whether more of the same source still adds lexical diversity.
    First occurrence is a term-keyed MIN aggregate (one shuffle,
    vocab-sized output); bucketing is exact integer math against a
    1-row broadcast max; the cumulative sum runs over 10 rows.

    On the synthetic word-soup corpus the whole vocabulary appears in
    bucket 0 (one output row) — instant saturation, which is exactly
    the verdict this curve renders about adding more of that source."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    firstocc = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    mx = F.broadcast(docs.agg(F.max("doc_id").alias("mx")))
    counts = (
        firstocc.crossJoin(mx)
        .select(
            F.floor((F.col("first_doc") * 10) / (F.col("mx") + 1))
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket")
    return (
        counts.withColumn("cum_vocab", F.sum("new_terms").over(w))
        .select("bucket", "new_terms", F.col("cum_vocab").cast("long"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Near-dup similarity distribution
# ---------------------------------------------------------------------------


def _sim_hist_oracle() -> str:
    return f"""
WITH {minhash_pairs_cte()}
SELECT CAST(floor(jaccard_sim * 10) AS INT) AS sim_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM verified WHERE jaccard_sim >= 0.25
GROUP BY CAST(floor(jaccard_sim * 10) AS INT)
ORDER BY sim_bucket
"""


@query("similarity_histogram", oracle=_sim_hist_oracle())
def _similarity_histogram(spark, sf_dir):
    """Distribution of candidate-pair similarities (how near are the
    near-dups?) — the histogram a team reads to PICK the dedup
    threshold, rather than guessing 0.5. Reuses the banded pipeline at
    a lower floor (0.25); jaccard is an exact integer ratio, so the
    floor(j*10) bucket is bit-stable cross-engine."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(table(spark, sf_dir, "documents"), threshold=0.25)
    return (
        pairs.select(
            F.floor(F.col("jaccard_sim") * 10).cast("int").alias("sim_bucket")
        )
        .groupBy("sim_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("sim_bucket")
    )


# ---------------------------------------------------------------------------
# Weekly engagement (WAU + stickiness)
# ---------------------------------------------------------------------------


@query(
    "weekly_engagement",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY CAST(ts AS DATE)
), weekly AS (
  SELECT strftime(date_trunc('week', day), '%Y-%m-%d') AS week_start,
         CAST(SUM(dau) AS BIGINT) AS dau_sum,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY date_trunc('week', day)
), wau AS (
  SELECT strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS week_start,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM events GROUP BY date_trunc('week', CAST(ts AS DATE))
)
SELECT w.week_start, w.n_days, u.wau,
       printf('%.6f', (CAST(w.dau_sum AS DOUBLE) / w.n_days) / u.wau) AS stickiness
FROM weekly w JOIN wau u USING (week_start)
ORDER BY week_start
""",
)
def _weekly_engagement(spark, sf_dir):
    """Weekly active users + stickiness (avg DAU / WAU — the classic
    DAU/MAU shape at the week grain this 30-day dataset supports).
    Two exact distinct-count aggregates; stickiness is a ratio of
    exact integers (bit-equal division), emitted %.6f. Both engines
    truncate weeks to the ISO Monday."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly = daily.groupBy(
        F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias("week_start")
    ).agg(F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days"))
    wau = ev.groupBy(
        F.date_format(F.date_trunc("week", F.to_date("ts")), "yyyy-MM-dd").alias(
            "week_start"
        )
    ).agg(F.countDistinct("user_id").alias("wau"))
    stick = (F.col("dau_sum").cast("double") / F.col("n_days")) / F.col("wau")
    return (
        weekly.join(wau, "week_start")
        .select(
            "week_start",
            "n_days",
            "wau",
            F.format_string("%.6f", stick).alias("stickiness"),
        )
        .orderBy("week_start")
    )


# ---------------------------------------------------------------------------
# Pareto concentration (top-decile share)
# ---------------------------------------------------------------------------


@query(
    "power_users_pareto",
    oracle="""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(n) AS BIGINT) AS total
  FROM u
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk FROM u
)
SELECT s.n_users,
       CAST(CEIL(s.n_users / 10.0) AS BIGINT) AS top_users,
       CAST(SUM(CASE WHEN r.rk <= CEIL(s.n_users / 10.0) THEN r.n ELSE 0 END)
            AS BIGINT) AS top_events,
       s.total,
       CAST(FLOOR(SUM(CASE WHEN r.rk <= CEIL(s.n_users / 10.0) THEN r.n ELSE 0 END)
                  * 1000000 / s.total) AS BIGINT) AS share_ppm
FROM ranked r CROSS JOIN stats s
GROUP BY s.n_users, s.total
""",
)
def _power_users_pareto(spark, sf_dir):
    """Pareto concentration: what share of all events the top 10% of
    users generate — the skew diagnostic for engagement data (and for
    choosing salting strategies on user-keyed jobs). Ranking runs over
    the post-aggregation user rows (K-row window, ties broken on
    user_id); the share is exact integer ppm math (the heavy_hitters
    idiom). Output is ONE row."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = F.broadcast(
        u.agg(
            F.count(F.lit(1)).alias("n_users"), F.sum("n").alias("total")
        )
    )
    w = Window.orderBy(F.col("n").desc(), "user_id")
    ranked = u.withColumn("rk", F.row_number().over(w))
    top_k = F.ceil(F.col("n_users") / 10.0)
    in_top = F.when(F.col("rk") <= top_k, F.col("n")).otherwise(F.lit(0))
    return (
        ranked.crossJoin(stats)
        .groupBy("n_users", "total")
        .agg(F.sum(in_top).alias("top_events"), F.max(top_k).alias("top_users"))
        .select(
            "n_users",
            F.col("top_users").cast("long"),
            "top_events",
            "total",
            F.floor(F.col("top_events") * 1000000 / F.col("total"))
            .cast("long")
            .alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Containment dedup (sub-document duplication)
# ---------------------------------------------------------------------------


def _containment_oracle() -> str:
    return f"""
WITH {minhash_pairs_cte()}, cont AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(ha.hashes, hb.hashes))::DOUBLE
           / least(len(ha.hashes), len(hb.hashes))::DOUBLE AS containment
  FROM pairs p
  JOIN hashed ha ON ha.doc_id = p.id_a
  JOIN hashed hb ON hb.doc_id = p.id_b
)
SELECT id_a, id_b, containment FROM cont WHERE containment >= 0.9
ORDER BY id_a, id_b
"""


@query("dedup_containment", oracle=_containment_oracle())
def _dedup_containment(spark, sf_dir):
    """Containment tier (operators/dedup.py::dedup_containment): pairs
    where the smaller doc's shingles sit ≥90% inside the larger's —
    the paste/subset duplication Jaccard structurally under-scores.
    Same banded candidates, exact containment verify; the lopsided-size
    recall caveat is in the operator docstring."""
    from ffi_etl_spark.operators.dedup import dedup_containment

    return dedup_containment(table(spark, sf_dir, "documents")).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------


@query(
    "k_anonymity_audit",
    oracle="""
SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
FROM customer
GROUP BY c_mktsegment, c_nationkey
HAVING COUNT(*) < 10
ORDER BY c_mktsegment, c_nationkey
""",
)
def _k_anonymity_audit(spark, sf_dir):
    """Privacy-release audit beside gdpr_forget_audit: quasi-identifier
    groups (segment × nationality) smaller than k=10 — the rows a
    k-anonymous data release must suppress or generalize. One hash
    aggregate over the QI columns; output is bounded by the QI
    cardinality, never the table."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 10)
        .orderBy("c_mktsegment", "c_nationkey")
    )


# ---------------------------------------------------------------------------
# Top user journey prefixes
# ---------------------------------------------------------------------------


@query(
    "top_user_paths",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
  FROM events
), heads AS (
  SELECT user_id,
         MAX(CASE WHEN rk = 1 THEN event_type END) AS e1,
         MAX(CASE WHEN rk = 2 THEN event_type END) AS e2,
         MAX(CASE WHEN rk = 3 THEN event_type END) AS e3
  FROM ranked WHERE rk <= 3 GROUP BY user_id
)
SELECT concat_ws('>', e1, e2, e3) AS path,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM heads GROUP BY concat_ws('>', e1, e2, e3)
ORDER BY n_users DESC, path LIMIT 20
""",
)
def _top_user_paths(spark, sf_dir):
    """Most common opening journeys (first three events per user) —
    the onboarding-funnel cousin of markov_transitions (which scores
    single steps; this ranks whole prefixes). One user-keyed window
    cut to rk<=3 (WindowGroupLimit), a user-keyed pivot-by-CASE, and a
    path-keyed count; top-20 via TakeOrderedAndProject. concat_ws
    skips NULLs identically on both engines for sub-3-event users."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    heads = ranked.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("rk") == i, F.col("event_type"))).alias(f"e{i}")
            for i in (1, 2, 3)
        ]
    )
    return (
        heads.select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )
