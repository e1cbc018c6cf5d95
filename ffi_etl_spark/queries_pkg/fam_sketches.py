"""Sketch and incremental-view-maintenance queries (split out of
round5b.py — VERDICT r07 item 8; pure mechanical move, zero semantic
change): HLL registers + rolling merges, quantile-summary compaction,
bloom membership audit, and the join/retraction IVM companions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query

# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (per-group, mergeable, cross-engine exact)
# ---------------------------------------------------------------------------


def _hll_oracle() -> str:
    from ffi_etl_spark.operators.sketches import (
        HLL_P,
        HLL_TAIL_BITS,
        hll_scale_constant,
    )

    m, b1 = 1 << HLL_P, HLL_TAIL_BITS + 1
    return f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
), rb AS (
  SELECT event_type, hv % {m} AS bucket,
         CASE WHEN hv // {m} = 0 THEN {b1}
              ELSE {b1} - length(bin(hv // {m})) END AS r
  FROM h
), regs AS (
  SELECT event_type, bucket, MAX(r) AS reg FROM rb GROUP BY event_type, bucket
), z AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS used_registers,
         CAST(SUM(1::BIGINT << CAST({b1} - reg AS INT)) AS BIGINT) AS zp
  FROM regs GROUP BY event_type
), ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT z.event_type, used_registers,
       CAST({m} - used_registers AS BIGINT) AS n_zero,
       CAST(zp + ({m} - used_registers) * (1::BIGINT << {b1}) AS BIGINT)
         AS z_scaled,
       {hll_scale_constant()!r}
         / CAST(zp + ({m} - used_registers) * (1::BIGINT << {b1}) AS DOUBLE)
         AS hll_estimate,
       CASE WHEN {m} - used_registers > 0
            THEN printf('%.6e', {float(m)!r}
                 * ln({float(m)!r} / CAST({m} - used_registers AS DOUBLE)))
       END AS lc_estimate_s,
       exact_distinct
FROM z JOIN ex ON ex.event_type = z.event_type
"""


@query("hll_distinct_sketch", oracle=_hll_oracle())
def _hll_distinct_sketch(spark, sf_dir):
    """operators/sketches.py::hll_registers + hll_estimate — per-
    event-type HyperLogLog distinct-user sketch beside the exact
    count. The register table is integer-exact and engine-portable
    (md5 bits, bin()-length ranks), Z accumulates as shifted BIGINTs
    under any order, and the estimate is one division by an exact
    integer — so the raw double hashes bit-strictly. exact_distinct
    rides along to expose the sketch error honestly (KMV covers
    set-algebra merges; HLL is the fixed-memory per-group workhorse:
    1024 registers regardless of cardinality)."""
    from ffi_etl_spark.operators.sketches import hll_estimate, hll_registers

    ev = table(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ("event_type",))
    est = hll_estimate(regs, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


# ---------------------------------------------------------------------------
# Quantile-summary compaction (the maintenance step for streamed parts)
# ---------------------------------------------------------------------------

_QSC_SHARDS, _QSC_K, _QSC_STRIDE = 8, 64, 4
# pre-compaction estimate error ≤ k(S−1); stride spacing adds ≤ k·stride
_QSC_BAND = _QSC_K * (_QSC_SHARDS - 1) + _QSC_K * _QSC_STRIDE
_QSC_QUANTILES = (0.25, 0.5, 0.9)


def _qsc_oracle() -> str:
    targets = "\nUNION ALL ".join(
        f"SELECT 'p{int(q * 100)}' AS q_label, "
        f"CAST(CEIL({q} * n) AS BIGINT) AS target_rank FROM tot"
        for q in _QSC_QUANTILES
    )
    return f"""
WITH ev AS (
  SELECT value, event_id FROM events
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev
), sharded AS (
  SELECT value, event_id,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % {_QSC_SHARDS} AS shard
  FROM ev
), ranked AS (
  SELECT value, event_id, shard,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY value, event_id)
           AS shard_rank,
         COUNT(*) OVER (PARTITION BY shard) AS shard_n
  FROM sharded
), summ AS MATERIALIZED (
  SELECT shard, value, event_id, shard_rank FROM ranked
  WHERE shard_rank % {_QSC_K} = 0 OR shard_rank = shard_n
), est AS MATERIALIZED (
  SELECT a.value, a.event_id,
         CAST(a.shard_rank + {_QSC_K} * COUNT(b.shard) AS BIGINT) AS est_rank
  FROM summ a LEFT JOIN summ b
    ON b.shard <> a.shard
   AND (b.value < a.value OR (b.value = a.value AND b.event_id < a.event_id))
  GROUP BY a.value, a.event_id, a.shard_rank
), numbered AS (
  SELECT value, event_id, est_rank,
         ROW_NUMBER() OVER (ORDER BY est_rank, value, event_id) AS rn,
         COUNT(*) OVER () AS nt
  FROM est
), compacted AS MATERIALIZED (
  SELECT value, event_id, est_rank AS shard_rank FROM numbered
  WHERE rn % {_QSC_STRIDE} = 0 OR rn = nt
), targets AS (
  {targets}
), scored AS (
  SELECT t.q_label, t.target_rank, c.value, c.event_id, c.shard_rank AS est_rank,
         ROW_NUMBER() OVER (
           PARTITION BY t.q_label
           ORDER BY abs(c.shard_rank - t.target_rank), c.value, c.event_id
         ) AS rk
  FROM compacted c CROSS JOIN targets t
), chosen AS MATERIALIZED (
  SELECT q_label, target_rank, value, event_id, est_rank FROM scored WHERE rk = 1
), truth AS (
  SELECT c.q_label, CAST(COUNT(*) AS BIGINT) AS true_rank
  FROM ev CROSS JOIN chosen c
  WHERE ev.value < c.value OR (ev.value = c.value AND ev.event_id <= c.event_id)
  GROUP BY c.q_label
)
SELECT c.q_label, c.value AS est_value, c.est_rank, c.target_rank, t.true_rank,
       CAST(abs(t.true_rank - c.target_rank) <= {_QSC_BAND} AS INT) AS band_ok
FROM chosen c JOIN truth t USING (q_label)
ORDER BY q_label
"""


@query("quantile_summary_compact", oracle=_qsc_oracle())
def _quantile_summary_compact(spark, sf_dir):
    """operators/sketches.py::compact_quantile_summary — merge the
    8-shard summary into ONE coarser part (stride 4) and answer
    quantiles from the compacted table: the maintenance step that
    keeps a long-running stream's part count (and therefore its error
    bound) from growing without rebuilding from raw data. The whole
    pipeline — shard ranks, every-k-th sampling, integer rank
    estimation, stride filter, nearest-rank answer, exact-rank truth —
    replays in SQL, and the band flag pins the documented error bound
    k(S−1) + k·stride with exact integer ranks."""
    from ffi_etl_spark.operators.sketches import (
        compact_quantile_summary,
        quantile_summary,
        quantile_summary_query,
    )

    ev = table(spark, sf_dir, "events")
    summ = quantile_summary(ev, n_shards=_QSC_SHARDS, k=_QSC_K)
    comp = compact_quantile_summary(summ, k=_QSC_K, stride=_QSC_STRIDE)
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    res = quantile_summary_query(
        comp, n, list(_QSC_QUANTILES), k=_QSC_K, part_cols=("part",)
    )
    truth = (
        ev.select(F.col("value").alias("_v"), F.col("event_id").alias("_e"))
        .crossJoin(F.broadcast(res))
        .where(
            (F.col("_v") < F.col("est_value"))
            | ((F.col("_v") == F.col("est_value")) & (F.col("_e") <= F.col("est_id")))
        )
        .groupBy("q_label", "est_value", "est_rank", "target_rank")
        .agg(F.count(F.lit(1)).cast("long").alias("true_rank"))
    )
    return truth.select(
        "q_label",
        "est_value",
        "est_rank",
        "target_rank",
        "true_rank",
        (F.abs(F.col("true_rank") - F.col("target_rank")) <= F.lit(_QSC_BAND))
        .cast("int")
        .alias("band_ok"),
    ).orderBy("q_label")


# ---------------------------------------------------------------------------
# Bloom filter build + membership audit (deterministic, cross-engine)
# ---------------------------------------------------------------------------

_BF_M, _BF_K = 1 << 13, 3  # 8192 bits, 3 md5-salted hash rows
# members = customers ordering in one month — a SELECTIVE set, so the
# probe population has real negatives and the measured FPR means
# something (at sf0.1 the filter runs at ~0.2 load -> ~10% expected
# FPR, deliberately: the audit DETECTS an undersized filter; size m
# up for production use)
_BF_MEMBER_PRED = "o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'"


def _bf_oracle() -> str:
    probe_bits = " AND ".join(
        f"EXISTS (SELECT 1 FROM bits WHERE bit ="
        f" ('0x' || substr(md5('bf{j}_' || CAST(c.c_custkey AS VARCHAR)), 1, 8))::BIGINT % {_BF_M})"
        for j in range(_BF_K)
    )
    member_bits = "\nUNION ALL ".join(
        f"SELECT ('0x' || substr(md5('bf{j}_' || CAST(k AS VARCHAR)), 1, 8))::BIGINT % {_BF_M} AS bit FROM members"
        for j in range(_BF_K)
    )
    pred = _BF_MEMBER_PRED
    return f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE {pred}
), bits AS (
  SELECT DISTINCT bit FROM ({member_bits})
), probed AS (
  SELECT c.c_custkey,
         CAST(({probe_bits}) AS INT) AS claimed,
         CAST(EXISTS (SELECT 1 FROM members m WHERE m.k = c.c_custkey) AS INT)
           AS actual
  FROM customer c
)
SELECT CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(actual) AS BIGINT) AS n_present,
       CAST(SUM(claimed) AS BIGINT) AS n_claimed,
       CAST(SUM(CASE WHEN claimed = 1 AND actual = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN claimed = 0 AND actual = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg,
       CASE WHEN COUNT(*) - SUM(actual) > 0 THEN
         CAST(SUM(CASE WHEN claimed = 1 AND actual = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) - SUM(actual) AS DOUBLE)
       END AS fpr
FROM probed
"""


@query("bloom_filter_audit", oracle=_bf_oracle())
def _bloom_filter_audit(spark, sf_dir):
    """Deterministic Bloom filter over customers-with-orders, audited
    against ground truth: ``n_false_neg`` is structurally 0 (the Bloom
    guarantee — gate-pinned, not assumed) and the measured false-
    positive rate is one division of exact counts. Bits are md5-salted
    buckets (the count-min idiom), so the filter an engine builds is
    byte-reproducible anywhere — unlike Spark's session-private
    ``bloom_filter_agg`` (which remains the production fast lane,
    session.BLOOM_JOIN_CONFS). Shape: the member set collapses to ≤k·n
    distinct bit rows (broadcastable); probing is a scan-side
    semi-join per hash row — the explicit form of runtime-filter
    pruning at 100 TB."""
    from ffi_etl_spark.functions.hashing import md5_int32

    def bit(col, j):
        return md5_int32(F.concat(F.lit(f"bf{j}_"), col.cast("string"))) % _BF_M

    from pyspark import StorageLevel

    members = (
        table(spark, sf_dir, "orders")
        .where(F.expr(_BF_MEMBER_PRED))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        # feeds the k bit branches, the truth join, and the count —
        # pin the shared aggregate (round-5 lesson d)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bits = None
    for j in range(_BF_K):
        b = members.select(bit(F.col("k"), j).alias("bit"))
        bits = b if bits is None else bits.unionByName(b)
    bits = bits.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    cust = table(spark, sf_dir, "customer").select("c_custkey")
    probed = cust
    for j in range(_BF_K):
        probed = probed.join(
            F.broadcast(bits.withColumnRenamed("bit", f"_b{j}")),
            bit(F.col("c_custkey"), j) == F.col(f"_b{j}"),
            "left",
        )
    claimed = None
    for j in range(_BF_K):
        c = F.col(f"_b{j}").isNotNull()
        claimed = c if claimed is None else (claimed & c)
    probed = probed.join(
        members.withColumnRenamed("k", "_mk"),
        F.col("c_custkey") == F.col("_mk"),
        "left",
    ).select(
        claimed.cast("int").alias("claimed"),
        F.col("_mk").isNotNull().cast("int").alias("actual"),
    )
    n_members = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    agg = probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("actual").cast("long").alias("n_present"),
        F.sum("claimed").cast("long").alias("n_claimed"),
        F.sum(((F.col("claimed") == 1) & (F.col("actual") == 0)).cast("int"))
        .cast("long")
        .alias("n_false_pos"),
        F.sum(((F.col("claimed") == 0) & (F.col("actual") == 1)).cast("int"))
        .cast("long")
        .alias("n_false_neg"),
    )
    return agg.crossJoin(F.broadcast(n_members)).crossJoin(
        F.broadcast(n_bits)
    ).select(
        "n_members",
        "n_bits_set",
        "n_probes",
        "n_present",
        "n_claimed",
        "n_false_pos",
        "n_false_neg",
        F.when(
            F.col("n_probes") - F.col("n_present") > 0,
            F.col("n_false_pos").cast("double")
            / (F.col("n_probes") - F.col("n_present")).cast("double"),
        ).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# Incremental JOIN maintenance (the join-side IVM companion)
# ---------------------------------------------------------------------------

_IVMJ_ORACLE = """
WITH dim_now AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer
)
SELECT o.o_orderkey, o.o_custkey, d.c_name, d.c_acctbal
FROM orders o JOIN dim_now d ON d.c_custkey = o.o_custkey
"""


@query("incremental_join_maintenance", oracle=_IVMJ_ORACLE)
def _incremental_join_maintenance(spark, sf_dir):
    """operators/ivm.py::maintain_fact_dim_join — the join-side IVM
    story beside incremental_agg_maintenance's aggregates: a stored
    orders⋈customer join absorbs (a) a fact delta (orders with key%10
    = 0, arriving 'tonight') via Δ⋈dim and (b) a dimension update
    (every 7th customer's balance +100) by re-decorating stored rows
    from their OWN fact columns — the orders history is never
    rescanned. The gate is the maintenance identity itself: the
    maintained table must hash-equal the oracle's full recompute of
    (all orders)⋈(current dim). Like the agg-IVM gate, the bench-side
    cost here deliberately builds both halves live; steady state only
    pays the delta half."""
    from ffi_etl_spark.operators.ivm import maintain_fact_dim_join

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim_old = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    dim_now = dim_old.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0)
        ).otherwise(F.col("c_acctbal")),
    )
    fact_old = orders.where(F.col("o_orderkey") % 10 != 0)
    fact_delta = orders.where(F.col("o_orderkey") % 10 == 0)
    # "stored": yesterday's materialized join (built live here; in
    # production this is a parquet/Delta table read back)
    stored = fact_old.join(
        F.broadcast(dim_old), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "c_custkey", "c_name", "c_acctbal")
    out = maintain_fact_dim_join(
        stored,
        fact_delta.withColumnRenamed("o_custkey", "c_custkey"),
        dim_now,
        keys=("c_custkey",),
    )
    return out.select(
        "o_orderkey",
        F.col("c_custkey").alias("o_custkey"),
        "c_name",
        "c_acctbal",
    )


# ---------------------------------------------------------------------------
# IVM with retractions: maintain aggregates from a CDC insert/delete feed
# ---------------------------------------------------------------------------

_IVM_RETRACT_ORACLE = """
WITH base AS (
  SELECT * FROM orders WHERE o_orderkey % 10 <> 0
), inserts AS (
  SELECT * FROM orders WHERE o_orderkey % 10 = 0
), deletes AS (
  SELECT * FROM base WHERE o_orderkey % 7 = 0
), final AS (
  SELECT * FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM inserts
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM final GROUP BY o_custkey
"""


@query("incremental_agg_retractions", oracle=_IVM_RETRACT_ORACLE)
def _incremental_agg_retractions(spark, sf_dir):
    """IVM under a CDC feed WITH DELETES — the capability
    incremental_agg_maintenance (insert-only partials) lacks: the
    change batch aggregates with a ±1 sign (inserts add, deletes
    retract), merges onto the stored aggregate through the SAME
    merge_grouped_partials sum rule (a retraction is just a negative
    partial), and groups whose count reaches zero DROP from the view
    (a full recompute never shows them — the post-merge filter is part
    of the contract). Sums use exact integer cents. Stated honestly:
    only invertible aggregates (count/sum/avg-as-sum-and-count)
    maintain under deletes — min/max need a rebuild when the extremum
    is retracted, which is why they are absent here. O(groups + |Δ|),
    base facts never rescanned."""
    from ffi_etl_spark.operators.ivm import merge_grouped_partials

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    inserts = orders.where(F.col("o_orderkey") % 10 == 0)
    deletes = base.where(F.col("o_orderkey") % 7 == 0)

    stored = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    cdc = inserts.withColumn("_sign", F.lit(1)).unionByName(
        deletes.withColumn("_sign", F.lit(-1))
    )
    delta = cdc.groupBy("o_custkey").agg(
        F.sum("_sign").cast("long").alias("n_orders"),
        F.sum(F.col("_sign") * F.col("cents")).cast("long").alias("total_cents"),
    )
    merged = merge_grouped_partials(
        stored, delta, keys=["o_custkey"], spec={"n_orders": "sum", "total_cents": "sum"}
    )
    return merged.where(F.col("n_orders") > 0).select(
        "o_custkey", "n_orders", "total_cents"
    )


# ---------------------------------------------------------------------------
# Rolling distinct via HLL register merges (sketch partials reused)
# ---------------------------------------------------------------------------


def _rolling_hll_oracle() -> str:
    from ffi_etl_spark.operators.sketches import (
        HLL_P,
        HLL_TAIL_BITS,
        hll_scale_constant,
    )

    m, b1 = 1 << HLL_P, HLL_TAIL_BITS + 1
    return f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS d,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
), rb AS (
  SELECT d, hv % {m} AS bucket,
         CASE WHEN hv // {m} = 0 THEN {b1}
              ELSE {b1} - length(bin(hv // {m})) END AS r
  FROM h
), daily AS (
  SELECT d, bucket, MAX(r) AS reg FROM rb GROUP BY d, bucket
), days AS (
  SELECT DISTINCT d FROM daily
), win AS (
  SELECT w.d, dy.bucket, MAX(dy.reg) AS reg
  FROM days w JOIN daily dy
    ON dy.d <= w.d AND dy.d > w.d - INTERVAL 7 DAY
  GROUP BY w.d, dy.bucket
), z AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS used,
         CAST(SUM(1::BIGINT << CAST({b1} - reg AS INT)) AS BIGINT) AS zp
  FROM win GROUP BY d
), ex AS (
  SELECT w.d, CAST(COUNT(DISTINCT h2.hv) AS BIGINT) AS exact_distinct
  FROM days w JOIN h h2
    ON CAST(h2.d AS DATE) <= w.d AND CAST(h2.d AS DATE) > w.d - INTERVAL 7 DAY
  GROUP BY w.d
)
SELECT z.d AS day,
       CAST(zp + ({m} - used) * (1::BIGINT << {b1}) AS BIGINT) AS z_scaled,
       {hll_scale_constant()!r}
         / CAST(zp + ({m} - used) * (1::BIGINT << {b1}) AS DOUBLE)
         AS hll_estimate,
       exact_distinct
FROM z JOIN ex ON ex.d = z.d
"""


@query("rolling_distinct_hll", oracle=_rolling_hll_oracle())
def _rolling_distinct_hll(spark, sf_dir):
    """Trailing-7-day distinct users per day via HLL REGISTER MERGES —
    the sketch-composition payoff beside rolling_distinct_users' exact
    interval-merge: each day's 1024-register table is built ONCE, and
    every overlapping window answers by MAX-merging seven tiny
    register tables (at 100 TB the raw data is touched once per day,
    not once per window — the partials-reuse property exact distinct
    cannot have). All integers until the single final division; the
    exact twin rides along to expose the estimate error honestly."""
    from ffi_etl_spark.operators.sketches import hll_estimate, hll_registers

    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    daily = hll_registers(ev, "user_id", ("d",))
    from pyspark import StorageLevel

    daily = daily.persist(StorageLevel.MEMORY_AND_DISK)
    days = daily.select("d").distinct().withColumnRenamed("d", "day")
    win = (
        days.join(
            daily,
            (F.col("d") <= F.col("day")) & (F.col("d") > F.date_sub(F.col("day"), 7)),
        )
        .groupBy("day", "bucket")
        .agg(F.max("reg").cast("int").alias("reg"))
    )
    est = hll_estimate(win, ("day",)).select("day", "z_scaled", "hll_estimate")
    exact = (
        days.join(
            ev,
            (F.col("d") <= F.col("day")) & (F.col("d") > F.date_sub(F.col("day"), 7)),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "day")


