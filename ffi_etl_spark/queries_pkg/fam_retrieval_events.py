"""Retrieval, events and governance queries (split out of round5b.py —
VERDICT r07 item 8; pure mechanical move, zero semantic change):
sparse-cosine retrieval, MMR diversification, entity resolution,
perceptual-hash multimodal signatures, forward as-of joins, GDPR purge
application, the calendar dimension and interpolation resampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import INT8_CODES_CTE

# ---------------------------------------------------------------------------
# Sparse tf-idf cosine retrieval ("more like this")
# ---------------------------------------------------------------------------

_MLT_QUERY_DOC, _MLT_K, _MLT_BITS = 0, 25, 10


def _mlt_oracle() -> str:
    s = float(1 << _MLT_BITS)
    return rf"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), weights AS MATERIALIZED (
  SELECT tf.id, tf.term,
         tf.tf * CAST(FLOOR({s!r} *
           ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5))) AS BIGINT) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), qvec AS (
  SELECT term, w AS qw FROM weights WHERE id = {_MLT_QUERY_DOC}
), norms AS (
  SELECT id, CAST(SUM(w * w) AS BIGINT) AS norm2 FROM weights GROUP BY id
), qnorm AS (
  SELECT norm2 AS qnorm2 FROM norms WHERE id = {_MLT_QUERY_DOC}
), dots AS (
  SELECT w.id, CAST(COUNT(*) AS BIGINT) AS n_shared,
         CAST(SUM(w.w * q.qw) AS BIGINT) AS dot
  FROM weights w JOIN qvec q USING (term)
  WHERE w.id <> {_MLT_QUERY_DOC}
  GROUP BY w.id
)
SELECT d.id, d.n_shared, d.dot, nm.norm2,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(nm.norm2 AS DOUBLE))
                                * sqrt(CAST(q.qnorm2 AS DOUBLE))) AS cosine
FROM dots d JOIN norms nm USING (id) CROSS JOIN qnorm q
ORDER BY cosine DESC, id LIMIT {_MLT_K}
"""


@query("sparse_cosine_mlt", oracle=_mlt_oracle())
def _sparse_cosine_mlt(spark, sf_dir):
    """operators/textops.py::more_like_this — exact sparse tf-idf
    cosine retrieval anchored on doc 0, the lexical counterpart to
    knn_bruteforce. Weights are integers (tf × floor-quantized
    RATIONAL idf — no transcendental anywhere), dots/norms exact
    BIGINTs, cosine three IEEE-correctly-rounded float ops (sqrt is a
    basic op, not a transcendental) — so even the ORDER BY cosine
    LIMIT k is cross-engine stable and the gate hashes raw doubles."""
    from ffi_etl_spark.operators.textops import more_like_this

    return more_like_this(
        table(spark, sf_dir, "documents"),
        query_id=_MLT_QUERY_DOC,
        k=_MLT_K,
        idf_bits=_MLT_BITS,
    )


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy pairs -> clusters -> golden records
# ---------------------------------------------------------------------------

_ER_ORACLE = """
WITH RECURSIVE names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n,
         split_part(p_name, ' ', 1) AS blk
  FROM part GROUP BY p_name
), pairs AS (
  SELECT a.p_name AS na, b.p_name AS nb
  FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 3
), edges AS (
  SELECT na AS a, nb AS b FROM pairs UNION ALL SELECT nb, na FROM pairs
), verts AS (
  SELECT DISTINCT a AS v FROM edges
), reach(v, m) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
), comp AS (
  SELECT v AS p_name, MIN(m) AS component FROM reach GROUP BY v
), allc AS (
  SELECT n.p_name, COALESCE(c.component, n.p_name) AS entity_id, n.n
  FROM names n LEFT JOIN comp c ON c.p_name = n.p_name
), ranked AS (
  SELECT entity_id, p_name, n,
         ROW_NUMBER() OVER (PARTITION BY entity_id
                            ORDER BY n DESC, p_name) AS rk
  FROM allc
), golden AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         CAST(SUM(n) AS BIGINT) AS total_n
  FROM allc GROUP BY entity_id
)
SELECT g.entity_id, r.p_name AS canonical, g.cluster_size, g.total_n
FROM golden g JOIN ranked r ON r.entity_id = g.entity_id AND r.rk = 1
"""


@query("entity_resolution_golden", oracle=_ER_ORACLE)
def _entity_resolution_golden(spark, sf_dir):
    """The RESOLUTION step completing fuzzy_match_blocked's matching:
    blocked levenshtein pairs -> connected components (operators/
    graph.py alternating-star rounds; the oracle's recursive-CTE
    min-reachable-label is the same fixpoint) -> one golden record per
    entity by frequency-then-name survivorship (min over the
    (-n, name) struct — deterministic both engines). Unmatched names
    stay singleton entities via the left join. Same 100 TB shape as
    the matcher: the corpus collapses to distinct names first, the
    quadratic work is per-block, and survivorship is one aggregate."""
    from ffi_etl_spark.operators.graph import connected_components

    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("blk", F.split("p_name", " ")[0])
    )
    a, b = names.alias("a"), names.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
        .select(
            F.col("a.p_name").alias("id_a"), F.col("b.p_name").alias("id_b")
        )
    )
    comp = connected_components(pairs).withColumnsRenamed(
        {"vertex": "p_name", "component": "entity_id"}
    )
    allc = names.join(comp, "p_name", "left").select(
        "p_name",
        F.coalesce(F.col("entity_id"), F.col("p_name")).alias("entity_id"),
        "n",
    )
    return allc.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.sum("n").cast("long").alias("total_n"),
        F.min(F.struct((-F.col("n")).alias("nn"), F.col("p_name").alias("nm")))
        .getField("nm")
        .alias("canonical"),
    ).select("entity_id", "canonical", "cluster_size", "total_n")


# ---------------------------------------------------------------------------
# MMR diversity-aware top-k (quantized code space)
# ---------------------------------------------------------------------------

_MMR_PROBE, _MMR_CANDS, _MMR_K = 0, 20, 5


def _mmr_oracle() -> str:
    rounds = []
    for r in range(2, _MMR_K + 1):
        rounds.append(f"""s{r} AS MATERIALIZED (
  SELECT {r} AS rank, id, d2q, div_min FROM (
    SELECT rm.id, rm.d2q, MIN(p.d2p) AS div_min
    FROM d2q rm
    JOIN pair p ON p.ca = rm.id AND p.cb IN (SELECT id FROM acc{r - 1})
    WHERE rm.id NOT IN (SELECT id FROM acc{r - 1})
    GROUP BY rm.id, rm.d2q
  ) ORDER BY d2q - div_min, id LIMIT 1
), acc{r} AS (
  SELECT id FROM acc{r - 1} UNION ALL SELECT id FROM s{r}
)""")
    rounds_sql = ",\n".join(rounds)
    finals = "\nUNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, _MMR_K + 1)
    )
    return f"""
WITH {INT8_CODES_CTE}, d2q AS MATERIALIZED (
  SELECT c.vec_id AS id,
         CAST(SUM((c.code - p.code) * (c.code - p.code)) AS BIGINT) AS d2q
  FROM codes c
  JOIN (SELECT dim, code FROM codes WHERE vec_id = {_MMR_PROBE}) p USING (dim)
  WHERE c.vec_id <> {_MMR_PROBE}
  GROUP BY c.vec_id
  ORDER BY d2q, id LIMIT {_MMR_CANDS}
), pair AS MATERIALIZED (
  SELECT a.vec_id AS ca, b.vec_id AS cb,
         CAST(SUM((a.code - b.code) * (a.code - b.code)) AS BIGINT) AS d2p
  FROM codes a
  JOIN codes b ON b.dim = a.dim AND b.vec_id <> a.vec_id
  WHERE a.vec_id IN (SELECT id FROM d2q) AND b.vec_id IN (SELECT id FROM d2q)
  GROUP BY a.vec_id, b.vec_id
), s1 AS MATERIALIZED (
  SELECT 1 AS rank, id, d2q, CAST(NULL AS BIGINT) AS div_min
  FROM d2q ORDER BY d2q, id LIMIT 1
), acc1 AS (
  SELECT id FROM s1
), {rounds_sql}
SELECT CAST(rank AS INT) AS rank, id, d2q, div_min FROM ({finals})
"""


@query("mmr_diverse_topk", oracle=_mmr_oracle())
def _mmr_diverse_topk(spark, sf_dir):
    """operators/quantize.py::mmr_diverse_topk — Maximal-Marginal-
    Relevance selection over the int8 code space: with λ=1/2 the MMR
    objective is ``min_{s∈S} d2(c,s) − d2(q,c)`` — pure BIGINTs, so
    all 5 selection rounds (unrolled, 1-row argmax each, candidates
    and pairwise table checkpointed once) are bit-deterministic and
    the oracle replays them as materialized CTEs. The curation answer
    to 'nearest k without k copies of the same template'."""
    from ffi_etl_spark.operators.quantize import mmr_diverse_topk

    out = mmr_diverse_topk(
        table(spark, sf_dir, "embeddings"),
        probe_id=_MMR_PROBE,
        n_candidates=_MMR_CANDS,
        k=_MMR_K,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Multimodal perceptual hash (aHash through the Arrow lane)
# ---------------------------------------------------------------------------

_AHASH_ORACLE = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1
), samp AS (
  SELECT doc_id, n, i, ascii(substr(text, (i * n) // 60 + 1, 1)) AS p
  FROM (SELECT doc_id, text, n, unnest(generate_series(0, 59)) AS i FROM base)
), tot AS (
  SELECT doc_id, CAST(SUM(p) AS BIGINT) AS s FROM samp GROUP BY doc_id
)
SELECT samp.doc_id, CAST(samp.n AS BIGINT) AS n_chars,
       CAST(SUM(CASE WHEN 60 * samp.p > t.s
                     THEN 1::BIGINT << samp.i ELSE 0 END) AS BIGINT) AS ahash
FROM samp JOIN tot t USING (doc_id)
GROUP BY samp.doc_id, samp.n
"""


@query("multimodal_phash_sigs", oracle=_AHASH_ORACLE)
def _multimodal_phash_sigs(spark, sf_dir):
    """operators/multimodal.py::ahash_signatures — perceptual
    average-hash signatures computed THROUGH the binary-payload Arrow
    lane (mapInPandas decode -> sampled codepoint grid -> integer
    threshold hash), differentially pinned by a pure-SQL replay: the
    gate proves the Python/Arrow lane bit-equal to the relational
    semantics, the same guarantee the other multimodal queries carry.
    Pair generation (phash_neardup_pairs — dedup_simhash's banded
    plan on this hash) is pytest-gated on planted near-identical
    payloads; the natural corpus has no Hamming≤3 pairs."""
    from ffi_etl_spark.operators.multimodal import (
        ahash_signatures,
        attach_binary_payload,
    )

    docs = table(spark, sf_dir, "documents")
    return ahash_signatures(attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# Forward as-of join: next purchase after each view (time-to-convert)
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, ts,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type IN ('view', 'purchase')
), marked AS (
  SELECT event_id, user_id, event_type, us,
         MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS next_purchase_us
  FROM ev
)
SELECT event_id, user_id, us AS view_us, next_purchase_us,
       next_purchase_us - us AS gap_us
FROM marked WHERE event_type = 'view'
"""


@query("asof_forward_next_purchase", oracle=_ASOF_FWD_ORACLE)
def _asof_forward_next_purchase(spark, sf_dir):
    """FORWARD as-of join completing asof_join_last_purchase's
    backward direction: for every view, the user's next purchase at or
    after it (time-to-convert). Same union-the-streams trick, mirrored
    — a conditional MIN over the FOLLOWING frame instead of LOCF over
    PRECEDING — so both directions are one user-keyed shuffle + one
    frame window, never a per-row subquery. NULL next_purchase marks
    never-converting views (kept: the churn signal). Timestamps ride
    as epoch-microsecond BIGINTs (the engine's sub-second rule)."""
    from pyspark.sql import Window

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("us"))
    ).over(w)
    return (
        ev.withColumn("next_purchase_us", nxt)
        .where(F.col("event_type") == "view")
        .select(
            "event_id",
            "user_id",
            F.col("us").alias("view_us"),
            "next_purchase_us",
            (F.col("next_purchase_us") - F.col("us")).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten: APPLY the purge, prove completeness
# ---------------------------------------------------------------------------

_GDPR_APPLY_ORACLE = """
WITH subjects AS (
  SELECT DISTINCT user_id AS sid FROM events WHERE user_id % 97 = 0
), t AS (
  SELECT 'customer' AS table_name,
         CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_before,
         CAST((SELECT COUNT(*) FROM customer
               WHERE c_custkey IN (SELECT sid FROM subjects)) AS BIGINT)
           AS n_purged,
         CAST((SELECT COUNT(*) FROM customer
               WHERE c_custkey NOT IN (SELECT sid FROM subjects)) AS BIGINT)
           AS n_after,
         CAST((SELECT COUNT(*) FROM (
               SELECT c_custkey FROM customer
               WHERE c_custkey NOT IN (SELECT sid FROM subjects)
         ) WHERE c_custkey IN (SELECT sid FROM subjects)) AS BIGINT)
           AS residual_subject_rows
  UNION ALL
  SELECT 'events',
         CAST((SELECT COUNT(*) FROM events) AS BIGINT),
         CAST((SELECT COUNT(*) FROM events
               WHERE user_id IN (SELECT sid FROM subjects)) AS BIGINT),
         CAST((SELECT COUNT(*) FROM events
               WHERE user_id NOT IN (SELECT sid FROM subjects)) AS BIGINT),
         CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'orders',
         CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders
               WHERE o_custkey IN (SELECT sid FROM subjects)) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders
               WHERE o_custkey NOT IN (SELECT sid FROM subjects)) AS BIGINT),
         CAST(0 AS BIGINT)
)
SELECT table_name, n_before, n_purged, n_after, residual_subject_rows,
       CAST(n_before - n_purged = n_after AS INT) AS conservation_ok
FROM t ORDER BY table_name
"""


@query("gdpr_forget_apply", oracle=_GDPR_APPLY_ORACLE)
def _gdpr_forget_apply(spark, sf_dir):
    """Execute the right-to-be-forgotten purge that gdpr_forget_audit
    sized: per table, the LEFT ANTI join against the broadcast subject
    set, with completeness PROVEN in the output — residual subject
    rows in the purged table (a semi-join back, must be 0) and the
    conservation identity before − purged = after as an integer flag.
    Same 100 TB shape as the audit: tiny broadcast set, per-table
    scans, no table shuffle; in a lakehouse deployment the anti-join
    result lands via overwrite/MERGE (sources/versioned.py keeps the
    pre-purge snapshot for the legal-hold window)."""
    ev = table(spark, sf_dir, "events")
    subjects = (
        ev.filter(F.col("user_id") % 97 == 0)
        .select(F.col("user_id").alias("sid"))
        .distinct()
        .localCheckpoint(eager=True)  # reused by 3x2 joins below
    )

    def apply(df, key, name):
        purged = df.join(
            F.broadcast(subjects), df[key] == F.col("sid"), "left_anti"
        )
        before = df.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        # n_purged counted INDEPENDENTLY (semi-join), so the
        # conservation identity below genuinely cross-checks the
        # anti/semi partitioning instead of restating arithmetic
        hit = df.join(
            F.broadcast(subjects), df[key] == F.col("sid"), "left_semi"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_purged"))
        kept = purged.agg(F.count(F.lit(1)).cast("long").alias("n_after"))
        residual = (
            purged.join(F.broadcast(subjects), df[key] == F.col("sid"), "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("residual_subject_rows"))
        )
        return (
            before.crossJoin(F.broadcast(hit))
            .crossJoin(F.broadcast(kept))
            .crossJoin(F.broadcast(residual))
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_purged",
                "n_after",
                "residual_subject_rows",
                (F.col("n_before") - F.col("n_purged") == F.col("n_after"))
                .cast("int")
                .alias("conservation_ok"),
            )
        )

    return (
        apply(table(spark, sf_dir, "customer"), "c_custkey", "customer")
        .unionByName(apply(ev, "user_id", "events"))
        .unionByName(apply(table(spark, sf_dir, "orders"), "o_custkey", "orders"))
    )


# ---------------------------------------------------------------------------
# Calendar dimension generator (warehouse utility table)
# ---------------------------------------------------------------------------

_CAL_ORACLE = """
WITH span AS (
  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
), days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM span
)
SELECT d AS cal_date,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(isoyear(d) AS INT) AS iso_year,
       CAST(weekofyear(d) AS INT) AS iso_week,
       CAST(isodow(d) AS INT) AS iso_dow,
       CAST(isodow(d) >= 6 AS INT) AS is_weekend,
       CAST(d = last_day(d) AS INT) AS is_month_end
FROM days
"""


@query("calendar_dim", oracle=_CAL_ORACLE)
def _calendar_dim(spark, sf_dir):
    """Calendar dimension spanning the event range — the warehouse
    utility every date-keyed star joins against: generated by one
    sequence explode over a 1-row min/max broadcast (no source table
    of days needed), with ISO attributes computed from integer date
    math both engines agree on (probed: Spark weekofyear/dayofweek map
    onto DuckDB weekofyear/isodow; ISO year via the Thursday rule).
    Broadcast-sized output by construction (one row per day)."""
    span = table(spark, sf_dir, "events").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("cal_date")
    )
    d = F.col("cal_date")
    iso_dow = (F.pmod(F.dayofweek(d) + F.lit(5), F.lit(7)) + F.lit(1)).cast("int")
    # ISO year = year of this week's Thursday (the ISO-8601 rule),
    # computed with pure date arithmetic
    thursday = F.date_add(d, 4 - iso_dow)
    return days.select(
        "cal_date",
        F.year(d).cast("int").alias("year"),
        F.quarter(d).cast("int").alias("quarter"),
        F.month(d).cast("int").alias("month"),
        F.year(thursday).cast("int").alias("iso_year"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).cast("int").alias("is_weekend"),
        (d == F.last_day(d)).cast("int").alias("is_month_end"),
    )


# ---------------------------------------------------------------------------
# Linear-interpolation resampling (the LOCF gap-fill complement)
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH obs AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h,
         CAST(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
              / COUNT(*) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(epoch_us(ts) AS BIGINT) // 3600000000
), span AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM span
), joined AS (
  SELECT g.event_type, g.h, o.v FROM grid g
  LEFT JOIN obs o ON o.event_type = g.event_type AND o.h = g.h
), walls AS (
  SELECT event_type, h, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM joined
)
SELECT event_type, h, CAST(v IS NOT NULL AS INT) AS is_observed,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
       END AS value_i
FROM walls
"""


@query("resample_interpolate", oracle=_INTERP_ORACLE)
def _resample_interpolate(spark, sf_dir):
    """Hourly resampling with LINEAR interpolation — the smooth
    complement to resample_gapfill's LOCF: per event type, the hourly
    mean series on a dense epoch-hour grid, gaps filled by
    ``prev + (next−prev)·(h−hp)/(hn−hp)`` between the bracketing
    observed hours (NULL outside the observed range — no
    extrapolation). Bucket means are DECIMAL-exact sums (the
    partition-order float-sum rule) divided once, and the interpolant
    is a fixed chain of basic ops over those deterministic doubles —
    bit-stable cross-engine. Shape: one bucket aggregate, a K-row
    per-type grid explode, two frame windows."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3600000000).cast("long").alias("h"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    span = obs.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    joined = grid.join(obs, ["event_type", "h"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hcol = F.when(F.col("v").isNotNull(), F.col("h"))
    walls = joined.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(hcol, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(hcol, ignorenulls=True).over(wf).alias("nh"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("h") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double")
    )
    return walls.select(
        "event_type",
        "h",
        F.col("v").isNotNull().cast("int").alias("is_observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("value_i"),
    )


