"""Round-4c additions: incremental aggregate maintenance (IVM), a
deterministic differential-privacy release, per-vertex clustering
coefficients, market-basket association rules, and the Z-order
locality differential.

``incremental_agg_maintenance`` is the nightly-refresh shape: the
historical base arrives PRE-REDUCED (one row per group) and only the
delta batch is aggregated from facts, then the two merge with
operators/ivm.py::merge_grouped_partials — O(groups), not O(history).
The oracle recomputes the same answer from the full fact table, which
is exactly the rescans-everything plan the operator exists to avoid.

``dp_noised_release`` completes the privacy-audit family
(k_anonymity_audit, l_diversity_audit): an ε-DP Laplace count release
whose noise draw is DETERMINISTIC — uniform u derived from the md5 of
the group key (the same keyed-hash idiom as the datamix samplers), then
the standard inverse-CDF transform noise = -b·sign(u-½)·ln(1-2|u-½|).
ln() is transcendental, so per the house parity rule the noised values
leave as %.6e strings on both engines (Java Math.log and DuckDB libm
log agree far beyond 7 significant figures); no float ever feeds a
row-membership or LIMIT decision.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import minhash_pairs_cte

# ---------------------------------------------------------------------------
# incremental view maintenance: base aggregate + delta batch, no rescan
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-24 00:00:00"

_IVM_ORACLE = f"""
SELECT user_id,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       MIN(value) AS value_min,
       MAX(value) AS value_max
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@query("incremental_agg_maintenance", oracle=_IVM_ORACLE)
def _incremental_agg_maintenance(spark, sf_dir):
    """Maintain a (user_id, event_type) aggregate across a batch
    boundary WITHOUT rescanning history: events before the cutoff play
    the stored base aggregate (pre-reduced), events after play the
    arriving delta; operators/ivm.py::merge_grouped_partials combines
    them per group (count/sum merge as sums, min/max as least/
    greatest). The oracle is the full recomputation — identical answer,
    O(history) cost. Sums are exact integer cents (FLOOR(value*100)),
    so the merge is bit-stable under any partition order; min/max are
    order-independent raw doubles."""
    from ffi_etl_spark.operators.ivm import merge_grouped_partials

    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("value_cents"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    ]
    keys = ["user_id", "event_type"]
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    # NULL-ts rows must land in exactly one half (the oracle aggregates
    # ALL rows); route them to the base side rather than letting the
    # NULL comparison drop them from both.
    base = ev.filter(
        (F.col("ts") < cutoff) | F.col("ts").isNull()
    ).groupBy(*keys).agg(*aggs)
    delta = ev.filter(F.col("ts") >= cutoff).groupBy(*keys).agg(*aggs)
    merged = merge_grouped_partials(
        base,
        delta,
        keys,
        {
            "n_events": "sum",
            "value_cents": "sum",
            "value_min": "min",
            "value_max": "max",
        },
    )
    return merged.orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# deterministic ε-DP Laplace count release
# ---------------------------------------------------------------------------

_DP_EPS = 1.0

# 52-bit md5-derived uniform in the OPEN interval (0,1): v in [0, 2^52-1],
# u = (v+1)/(2^52+1) — never 0, never 1, so |u-1/2| < 1/2 and the ln()
# argument 1-2|u-1/2| stays strictly positive.
_DP_U_SQL = (
    "(('0x' || substr(md5(event_type), 1, 13))::BIGINT + 1) / 4503599627370497.0"
)

_DP_ORACLE = f"""
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), noised AS (
  SELECT event_type, n, {_DP_U_SQL} AS u FROM counts
)
SELECT event_type,
       printf('%.6e', 1.0 / {_DP_EPS}) AS laplace_scale_s,
       printf('%.6e',
              n - (1.0 / {_DP_EPS})
                * CASE WHEN u - 0.5 < 0.0 THEN -1.0
                       WHEN u - 0.5 > 0.0 THEN 1.0
                       ELSE 0.0 END
                * ln(1.0 - 2.0 * abs(u - 0.5))) AS released_s
FROM noised
ORDER BY event_type
"""


@query("dp_noised_release", oracle=_DP_ORACLE)
def _dp_noised_release(spark, sf_dir):
    """ε=1 differentially-private per-event-type count release with a
    deterministic Laplace draw: u = keyed-md5 uniform in (0,1),
    noise = -(1/ε)·sign(u-½)·ln(1-2|u-½|) (inverse-CDF sampling). The
    raw count never leaves; the noised value exits as a %.6e string on
    both engines (transcendental-ln parity rule). Completes the
    privacy-audit trio beside k_anonymity_audit / l_diversity_audit."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 13), 16, 10).cast("long")
        + F.lit(1)
    ) / F.lit(4503599627370497.0)
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return (
        counts.select(
            "event_type",
            F.format_string("%.6e", F.lit(1.0 / _DP_EPS)).alias("laplace_scale_s"),
            F.format_string("%.6e", F.col("n") + noise).alias("released_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# rendezvous (HRW) resharding: elastic shard topology, minimal movement
# ---------------------------------------------------------------------------

_HRW_S = 16  # shards before; after = S+1

_HRW_W = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 13))::BIGINT"
)

_HRW_ORACLE = f"""
WITH weights AS (
  SELECT doc_id, s, {_HRW_W} AS w
  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, {_HRW_S})) AS s)
), a_new AS (
  SELECT doc_id, s AS shard_after FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, s) AS rn
    FROM weights
  ) WHERE rn = 1
), a_old AS (
  SELECT doc_id, s AS shard_before FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, s) AS rn
    FROM weights WHERE s < {_HRW_S}
  ) WHERE rn = 1
), assigned AS (
  SELECT o.doc_id, o.shard_before, n.shard_after
  FROM a_old o JOIN a_new n ON n.doc_id = o.doc_id
)
SELECT shard_before AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN shard_after = shard_before THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed,
       CAST(SUM(CASE WHEN shard_after != shard_before THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST(SUM(CASE WHEN shard_after != shard_before AND shard_after != {_HRW_S}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere
FROM assigned
GROUP BY shard_before
ORDER BY shard
"""


@query("rendezvous_resharding", oracle=_HRW_ORACLE)
def _rendezvous_resharding(spark, sf_dir):
    """Elastic resharding via rendezvous (highest-random-weight)
    hashing: each doc lands on the shard maximizing a keyed md5 weight.
    Growing the topology from S to S+1 shards moves ONLY the docs whose
    new-shard weight wins — in expectation n/(S+1) of them, and every
    move targets the NEW shard (``n_moved_elsewhere`` must be 0; the
    gate pins that invariant as data). mod-S sharding would relocate
    (S-1)/S of a 100 TB corpus on the same topology change; HRW is how
    the shard map grows without a full reshuffle. Both per-doc argmaxes
    (all 17 shards; the 16 old shards) ride ONE doc-keyed aggregation
    over the narrow explode — lexicographic max over struct(w, -s)
    gives the explicit (w DESC, s ASC) tie-break with no engine-defined
    max_by ambiguity, and map-side partial aggregation reduces the
    17x fanout before the only shuffle."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    shards = F.explode(
        F.sequence(F.lit(0), F.lit(_HRW_S))
    ).alias("s")
    weights = d.select("doc_id", shards).withColumn(
        "w",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("s").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long"),
    )
    # both argmaxes in ONE doc-keyed aggregation (two windows + a
    # self-join would shuffle the 17n-row frame three times): the
    # (w DESC, s ASC) tie-break becomes lexicographic max over
    # struct(w, -s) — max skips the NULLs the s<S filter leaves
    pick = F.struct(F.col("w").alias("w"), (-F.col("s")).alias("ns"))
    assigned = weights.groupBy("doc_id").agg(
        (-F.max(pick)["ns"]).alias("shard_after"),
        (-F.max(F.when(F.col("s") < _HRW_S, pick))["ns"]).alias("shard_before"),
    )
    moved = F.col("shard_after") != F.col("shard_before")
    return (
        assigned.groupBy(F.col("shard_before").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(~moved, 1).otherwise(0)).alias("n_stayed"),
            F.sum(F.when(moved, 1).otherwise(0)).alias("n_moved"),
            F.sum(
                F.when(moved & (F.col("shard_after") != _HRW_S), 1).otherwise(0)
            ).alias("n_moved_elsewhere"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# KMV (theta-sketch) distinct set algebra: estimable intersections
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_DENOM = 4503599627370497.0  # 2^52 + 1: u in (0,1), never 0

_KMV_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM events
), sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM items
  ) WHERE rn <= {_KMV_K}
), per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sk, MAX(h) AS h_k
  FROM sk GROUP BY event_type
), uni AS (
  -- the union sketch ranks the DISTINCT merged hash set: a hash held
  -- by both input sketches is one union element, so it must occupy
  -- ONE slot before the K cutoff (ranking the multiset would burn two
  -- slots per shared hash and wreck the estimate on overlapping sets)
  SELECT type_a, type_b, h FROM (
    SELECT type_a, type_b, h,
           ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
    FROM (
      SELECT DISTINCT a.event_type AS type_a, b.event_type AS type_b, u.h
      FROM per_type a JOIN per_type b ON a.event_type < b.event_type
      JOIN sk u ON u.event_type IN (a.event_type, b.event_type)
    )
  ) WHERE rn <= {_KMV_K}
), uni_stats AS (
  SELECT type_a, type_b,
         CAST(COUNT(*) AS BIGINT) AS n_sk_u,
         MAX(h) AS h_k_u
  FROM uni GROUP BY type_a, type_b
), est AS (
  SELECT p.event_type,
         CASE WHEN p.n_sk < {_KMV_K} THEN CAST(p.n_sk AS DOUBLE)
              ELSE ({_KMV_K} - 1) / ((p.h_k + 1) / {_KMV_DENOM}) END AS e
  FROM per_type p
)
SELECT u.type_a AS type_a, u.type_b AS type_b,
       printf('%.6e', ea.e) AS est_a_s,
       printf('%.6e', eb.e) AS est_b_s,
       printf('%.6e',
              CASE WHEN u.n_sk_u < {_KMV_K} THEN CAST(u.n_sk_u AS DOUBLE)
                   ELSE ({_KMV_K} - 1) / ((u.h_k_u + 1) / {_KMV_DENOM}) END
             ) AS est_union_s,
       printf('%.6e',
              ea.e + eb.e
              - CASE WHEN u.n_sk_u < {_KMV_K} THEN CAST(u.n_sk_u AS DOUBLE)
                     ELSE ({_KMV_K} - 1) / ((u.h_k_u + 1) / {_KMV_DENOM}) END
             ) AS est_intersection_s,
       x.n_exact AS exact_intersection
FROM uni_stats u
JOIN est ea ON ea.event_type = u.type_a
JOIN est eb ON eb.event_type = u.type_b
JOIN (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT DISTINCT event_type, user_id FROM events) a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
) x ON x.type_a = u.type_a AND x.type_b = u.type_b
ORDER BY u.type_a, u.type_b
"""


@query("kmv_set_algebra", oracle=_KMV_ORACLE)
def _kmv_set_algebra(spark, sf_dir):
    """KMV / theta-sketch distinct set algebra over per-event-type user
    sets: keep each set's K smallest md5-derived hashes; the union
    sketch of a pair is the K smallest of the merged sketches, and
    |A∩B| is estimated by inclusion-exclusion — the set operation HLL
    sketches cannot do (no intersection), which is why theta sketches
    exist. Deterministic by construction (keyed md5, no RNG), so the
    estimates are oracle-checkable; the exact pairwise intersection
    rides along as the verification twin (at 100 TB you'd drop that
    column — the whole point is that K-row sketches travel instead of
    user sets; sketches here are K-row per group, the pair stage
    touches only K·pairs rows). Sub-K sets estimate exactly (the KMV
    rule). Estimates leave as %.6e strings: each is a few exact
    IEEE ops on integers, but the house rule prices formatted exits
    for anything downstream of a division."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    k = _KMV_K
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    items = ev.select("event_type", h.alias("h")).distinct()
    # two-phase exact top-k-smallest: a single per-type window would
    # funnel every distinct hash of a type through ONE task (the
    # 100 TB cliff); instead take each shard's k smallest (the global
    # k smallest are necessarily among them), then rank the ≤ 64k
    # survivors — identical result, shard-parallel sort
    rn1 = F.row_number().over(
        Window.partitionBy("event_type", "salt").orderBy("h")
    )
    cand = (
        items.withColumn("salt", F.col("h") % 64)
        .withColumn("rn1", rn1)
        .filter(F.col("rn1") <= k)
    )
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    sk = cand.withColumn("rn", rn).filter(F.col("rn") <= k).select("event_type", "h")
    per_type = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("h_k")
    )

    def _est(n_sk, h_k):
        return F.when(n_sk < k, n_sk.cast("double")).otherwise(
            F.lit(float(k - 1)) / ((h_k + F.lit(1)) / F.lit(_KMV_DENOM))
        )

    est = per_type.select(
        "event_type", _est(F.col("n_sk"), F.col("h_k")).alias("e")
    )
    type_pairs = (
        per_type.select(F.col("event_type").alias("type_a"))
        .join(
            per_type.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # DISTINCT before the K cutoff: a hash present in both sketches is
    # one union element and must occupy one slot (see oracle comment)
    uni_rows = (
        type_pairs.join(
            F.broadcast(sk),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    rn_u = F.row_number().over(Window.partitionBy("type_a", "type_b").orderBy("h"))
    uni = uni_rows.withColumn("rn", rn_u).filter(F.col("rn") <= k)
    uni_stats = uni.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_sk_u"), F.max("h").alias("h_k_u")
    )
    users = ev.select("event_type", "user_id").distinct()
    exact = (
        users.alias("a")
        .join(
            users.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    ea = est.select(F.col("event_type").alias("type_a"), F.col("e").alias("e_a"))
    eb = est.select(F.col("event_type").alias("type_b"), F.col("e").alias("e_b"))
    e_u = _est(F.col("n_sk_u"), F.col("h_k_u"))
    return (
        uni_stats.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.format_string("%.6e", F.col("e_a")).alias("est_a_s"),
            F.format_string("%.6e", F.col("e_b")).alias("est_b_s"),
            F.format_string("%.6e", e_u).alias("est_union_s"),
            F.format_string("%.6e", F.col("e_a") + F.col("e_b") - e_u).alias(
                "est_intersection_s"
            ),
            "exact_intersection",
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# local clustering coefficient: how clique-like each near-dup family is
# ---------------------------------------------------------------------------


def _clustering_oracle() -> str:
    return f"""
WITH {minhash_pairs_cte()}, cc_pairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard_sim >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM cc_pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cc_pairs
), deg AS (
  SELECT a AS vertex, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY a
), tri AS (
  SELECT e1.id_a AS v1, e1.id_b AS v2, e2.id_b AS v3
  FROM cc_pairs e1
  JOIN cc_pairs e2 ON e1.id_b = e2.id_a
  JOIN cc_pairs e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b
), tcount AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT v1 AS v FROM tri
    UNION ALL SELECT v2 FROM tri
    UNION ALL SELECT v3 FROM tri
  ) GROUP BY v
)
SELECT d.vertex, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                   / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE NULL END AS clustering_coeff
FROM deg d LEFT JOIN tcount t ON t.v = d.vertex
ORDER BY vertex
"""


@query("clustering_coefficient", oracle=_clustering_oracle())
def _clustering_coefficient(spark, sf_dir):
    """Per-vertex local clustering coefficient of the MinHash near-dup
    graph — 2·T(v)/(deg·(deg−1)) — completing the graph family
    (components, PageRank, label propagation, triangles): a
    coefficient near 1 marks a clique-like mirror/template family
    (dedup the whole group), near 0 a hub stitching unrelated docs
    (inspect before collapsing). Triangles come from the oriented
    3-way join (operators/graph.py::triangle_enum — degree-orientation
    bounds wedge work), each credited to its 3 corners by a 3-way
    union, degrees from the symmetrized edge list; the coefficient is
    a single division of exact integers (bit-equal cross-engine),
    NULL at degree < 2 where it is undefined."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import triangle_enum

    # The pair list fans out 5x (edges/deg + the 3-way triangle join);
    # materialize it once so the LSH band self-join + verify pipeline
    # doesn't re-execute per reference (same discipline as graph.py's
    # localCheckpoint loops and dedup.py's _pin).
    pairs = (
        dedup_minhash_lsh(table(spark, sf_dir, "documents"))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.union(pairs.select(F.col("id_b"), F.col("id_a")))
    deg = edges.groupBy(F.col("id_a").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = triangle_enum(pairs)
    tcount = (
        tri.select(F.col("v1").alias("v"))
        .unionAll(tri.select(F.col("v2").alias("v")))
        .unionAll(tri.select(F.col("v3").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tcount, deg["vertex"] == tcount["v"], "left")
        .select(
            "vertex",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (2 * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            ).alias("clustering_coeff"),
        )
        .orderBy("vertex")
    )


# ---------------------------------------------------------------------------
# association rules: market-basket lift over per-user event types
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH items AS (
  SELECT DISTINCT user_id, event_type FROM events
), nu AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM items
), supp AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type FROM items GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS ante, b.event_type AS cons,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.ante, p.cons, p.n_both,
       sa.n_type AS n_ante, sb.n_type AS n_cons, nu.n_users,
       CAST(p.n_both * nu.n_users AS DOUBLE)
         / CAST(sa.n_type * sb.n_type AS DOUBLE) AS lift,
       CAST(p.n_both AS DOUBLE) / CAST(sa.n_type AS DOUBLE) AS confidence
FROM pairs p
JOIN supp sa ON sa.event_type = p.ante
JOIN supp sb ON sb.event_type = p.cons
CROSS JOIN nu
ORDER BY ante, cons
"""


@query("market_basket_lift", oracle=_BASKET_ORACLE)
def _market_basket_lift(spark, sf_dir):
    """Association rules over per-user event-type baskets: for every
    unordered type pair, exact support counts plus lift
    (co·N / (s_a·s_b)) and confidence — the users-who-did-X-also-did-Y
    analytics family (Apriori's scoring layer; the itemset lattice is
    unnecessary at this vocabulary size because all C(types,2) pairs
    fit trivially). Scale shape: baskets are DISTINCT (user, type)
    rows, so the self-join is user-keyed and co-partitioned with
    per-user fanout bounded by the type vocabulary — never row×row;
    supports and the user total are K-row/1-row broadcast joins. Lift
    and confidence are single divisions of exact integers (bit-equal
    cross-engine, no accumulation-order float)."""
    ev = table(spark, sf_dir, "events")
    items = ev.select("user_id", "event_type").distinct()
    nu = items.agg(F.countDistinct("user_id").alias("n_users"))
    supp = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"),
            F.col("b.event_type").alias("cons"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = supp.select(F.col("event_type").alias("ante"), F.col("n_type").alias("n_ante"))
    sb = supp.select(F.col("event_type").alias("cons"), F.col("n_type").alias("n_cons"))
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .crossJoin(F.broadcast(nu))
        .select(
            "ante",
            "cons",
            "n_both",
            "n_ante",
            "n_cons",
            "n_users",
            (
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")).cast("double")
            ).alias("lift"),
            (
                F.col("n_both").cast("double") / F.col("n_ante").cast("double")
            ).alias("confidence"),
        )
        .orderBy("ante", "cons")
    )


# ---------------------------------------------------------------------------
# Z-order locality profile: the data-layout lever, driver-graded
# ---------------------------------------------------------------------------

_Z_BITS = 12  # 2 cols x 12 bits = 24-bit Morton code


def _zvalue_sql(cols: list[str], bits: int) -> str:
    """The same Morton interleave sources/layout.py::zvalue builds with
    shiftleft/shiftright/bitwiseAND, as DuckDB bit arithmetic — bit b of
    column i lands at position b*len(cols)+i. Pure integer ops, so the
    differential is bit-exact."""
    n = len(cols)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return " | ".join(terms)


def _scaled_sql(col: str, mn: str, mx: str, bits: int) -> str:
    """Mirror of sources/layout.py::_scaled: ((c-min)/span)*top under
    IEEE doubles is per-row scalar arithmetic (no accumulation), so the
    two engines agree bit-for-bit and the FLOOR grid cell is safe."""
    top = float((1 << bits) - 1)
    return (
        f"CASE WHEN CAST({mx} - {mn} AS DOUBLE) > 0 THEN "
        f"CAST(FLOOR(CAST({col} - {mn} AS DOUBLE) / CAST({mx} - {mn} AS DOUBLE) * {top}) AS BIGINT) "
        f"ELSE 0 END"
    )


_ZORDER_ORACLE = f"""
WITH mm AS (
  SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
  FROM lineitem
), scaled AS (
  SELECT {_scaled_sql("l_partkey", "pmin", "pmax", _Z_BITS)} AS zp,
         {_scaled_sql("l_suppkey", "smin", "smax", _Z_BITS)} AS zs,
         l_partkey, l_suppkey
  FROM lineitem CROSS JOIN mm
), zed AS (
  SELECT ({_zvalue_sql(["zp", "zs"], _Z_BITS)}) >> 20 AS z_bucket,
         l_partkey, l_suppkey
  FROM scaled
)
SELECT z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_partkey) AS partkey_lo, MAX(l_partkey) AS partkey_hi,
       MIN(l_suppkey) AS suppkey_lo, MAX(l_suppkey) AS suppkey_hi
FROM zed
GROUP BY z_bucket
ORDER BY z_bucket
"""


@query("zorder_locality", oracle=_ZORDER_ORACLE)
def _zorder_locality(spark, sf_dir):
    """Driver-graded differential for the Z-order layout lever
    (sources/layout.py::zorder_write): compute the 24-bit Morton code
    of (l_partkey, l_suppkey), coarsen to 16 z-range buckets (the
    file-boundary proxy — zorder_write range-partitions on exactly this
    code), and report each bucket's bounding box in BOTH clustered
    columns. Tight per-bucket min/max boxes are the data-skipping
    property that makes a predicate on EITHER column prune files at
    100 TB. Min/max normalization is a 1-row broadcast aggregate; the
    interleave is pure codegen bit arithmetic; the oracle replays the
    identical integer circuit in SQL."""
    from ffi_etl_spark.sources.layout import _scaled, zvalue

    li = table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    scaled = li.select("l_partkey", "l_suppkey").crossJoin(F.broadcast(mm))
    zp = _scaled(F.col("l_partkey"), F.col("pmin"), F.col("pmax"), _Z_BITS)
    zs = _scaled(F.col("l_suppkey"), F.col("smin"), F.col("smax"), _Z_BITS)
    zed = scaled.withColumn("z_bucket", F.shiftright(zvalue([zp, zs], _Z_BITS), 20))
    return (
        zed.groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("partkey_lo"),
            F.max("l_partkey").alias("partkey_hi"),
            F.min("l_suppkey").alias("suppkey_lo"),
            F.max("l_suppkey").alias("suppkey_hi"),
        )
        .orderBy("z_bucket")
    )
