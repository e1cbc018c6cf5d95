"""Behavioral-analytics queries: ordered funnels, retention cohorts,
SCD2 change-point compression.

The event-log shapes every product-analytics migration needs on top of
the reference's flat-survey surface (SURVEY.md §2 has no event
sequencing at all). All three are pure DataFrame plans — sequence
logic lowers to conditional aggregates, per-key windows, and
gaps-and-islands compression, never a per-user Python loop.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query


# --- ordered funnel: view -> click -> purchase --------------------------------

@query(
    "funnel_conversion",
    oracle="""
WITH u1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > u1.t1
  GROUP BY e.user_id
),
u3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
  GROUP BY e.user_id
)
SELECT 'view' AS stage, 1 AS step, (SELECT COUNT(*) FROM u1) AS n_users
UNION ALL SELECT 'click', 2, (SELECT COUNT(*) FROM u2)
UNION ALL SELECT 'purchase', 3, (SELECT COUNT(*) FROM u3)
ORDER BY step
""",
)
def _funnel_conversion(spark, sf_dir):
    """Strictly-ordered conversion funnel. Stage k = users whose
    earliest stage-k event falls AFTER their earliest qualifying
    stage-(k-1) event — the standard product-analytics semantics, NOT
    "did all three ever happen".

    Plan shape: one aggregate per stage over events pre-filtered to
    that stage's type, each joined back user↔user. All three shuffles
    hash on ``user_id``, so on a cluster the exchanges after stage 1
    reuse the partitioning; the per-stage frames shrink monotonically
    (funnel!), and the final counts are three 1-row aggregates unioned
    driver-free.
    """
    ev = table(spark, sf_dir, "events")
    u1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    u2 = (
        ev.where(F.col("event_type") == "click")
        .join(u1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    u3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(u2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def count_stage(df, stage, step):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(stage).alias("stage"), F.lit(step).alias("step"), "n_users"
        )

    return (
        count_stage(u1, "view", 1)
        .unionByName(count_stage(u2, "click", 2))
        .unionByName(count_stage(u3, "purchase", 3))
        .orderBy("step")
    )


# --- retention cohorts: first-week cohort x active-week matrix ----------------

@query(
    "retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         date_trunc('week', e.ts) AS active_week
  FROM events e JOIN firsts f USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       datediff('day', cohort_week, active_week) // 7 AS week_offset,
       COUNT(*) AS n_users
FROM activity
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
""",
)
def _retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users bucketed by ISO week of their
    first event, counted once per week they return. Both engines
    date_trunc to Monday-start ISO weeks, and the offset is pure
    integer math (day diff ``div`` 7 over exact week boundaries) — no
    float, no calendar arithmetic to diverge on.

    Plan: one agg for first-touch, a shuffle-shared ``user_id`` join,
    then DISTINCT + agg on (cohort, week) — the matrix is K² rows. At
    100 TB the firsts frame is the only per-user state; everything
    after is bounded by weeks², not users.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(active_week, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --- SCD2 change-point compression (gaps and islands) -------------------------

@query(
    "scd2_compress",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
chg AS (
  SELECT user_id, event_id, ts, event_type FROM seq
  WHERE prev IS NULL OR prev <> event_type
),
spans AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM chg
)
SELECT user_id, event_type, valid_from, valid_to,
       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
FROM spans
WHERE user_id % 11 = 0
ORDER BY user_id, valid_from, event_type
""",
)
def _scd2_compress(spark, sf_dir):
    """Slowly-changing-dimension type 2 built from an event stream:
    gaps-and-islands compression keeps only rows where the tracked
    attribute CHANGES, then stitches ``valid_from``/``valid_to`` spans
    with a per-key LEAD. Ties on ``ts`` are broken by ``event_id`` in
    every window, so the islands are deterministic.

    Both windows partition by ``user_id`` — one shuffle, two window
    passes over the same partitioning (the second runs on the already
    change-compressed frame, typically a small fraction of the input).
    The ``user_id % 11`` gate subset is an integer predicate, so
    membership can't flip on noise.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    spans = chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("valid_to"),
    )
    return (
        spans.where(F.col("user_id") % 11 == 0)
        .select(
            "user_id",
            "event_type",
            "valid_from",
            "valid_to",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_type")
    )


# --- EWMA smoothing (alpha = 1/2, bit-exact cross-engine) ---------------------

@query(
    "ewma_smoothing",
    oracle="""
WITH ordered AS (
  SELECT event_id, user_id, ts, value,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
       list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
FROM ordered
""",
)
def _ewma_smoothing(spark, sf_dir):
    """Per-user exponentially weighted moving average over the trailing
    16 events — the monitoring/feature smoother a recursive
    ``y = αx + (1-α)y`` defines, truncated to a bounded frame so it is
    window-expressible.

    Bit-exact across engines by construction: α = 1/2 makes every
    multiply an exact power-of-two scaling, and the fold runs
    LEFT-TO-RIGHT over the frame-ordered value list on BOTH engines
    (Spark ``aggregate`` over a windowed collect_list; DuckDB
    ``list_reduce`` over a windowed ``list``) — a plain windowed SUM
    would let DuckDB's segment-tree aggregation reorder additions and
    break the hash. NULL-valued events are excluded up front on BOTH
    sides: Spark's collect_list silently drops NULLs while DuckDB's
    list() keeps them, so an unfiltered NULL would poison the fold on
    one engine only. Plan: one user-keyed shuffle feeding the window;
    the fold is a codegen'd array expression, 16 elements max."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        ewma.alias("ewma"),
    )
