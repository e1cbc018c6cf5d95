"""Round-4 operator additions: retrieval ranking, end-to-end dedup
survivors, embedding quantization, attribution/anomaly analytics,
robust scaling, compliance audit, split governance, star-schema
denormalization, and the Pareto skyline.

Each entry follows the engine's established parity rules: no raw
array/map/struct output columns (driver-canon contract), no bare
integer SUM in DuckDB oracles (HUGEINT), floor() over round() for
double->long, fixed-precision strings for any float an engine
accumulates in partition-dependent order, and rational (not
transcendental) ranking arithmetic wherever a score feeds a LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import (
    BM25_TERMS,
    INT8_CODES_CTE,
    bm25_cte,
    minhash_pairs_cte,
)

# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_ORACLE = f"""
WITH {bm25_cte()}
SELECT doc_id, printf('%.6f', score) AS score_s
FROM piv ORDER BY score DESC, doc_id LIMIT 20
"""


@query("bm25_rank", oracle=_BM25_ORACLE)
def _bm25_rank(spark, sf_dir):
    """Top-20 documents by BM25 for the query {hash, spark, window}
    (operators/textops.py::bm25_rank). Rational idf + exact-integer
    avgdl + sorted-term-order score summation keep every float
    bit-identical cross-engine; the score leaves as a %.6f string."""
    from ffi_etl_spark.operators.textops import bm25_rank

    ranked = bm25_rank(table(spark, sf_dir, "documents"), list(BM25_TERMS))
    return ranked.select(
        "doc_id", F.format_string("%.6f", F.col("score")).alias("score_s")
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup survivors: pairs -> components -> anti join
# ---------------------------------------------------------------------------

_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {minhash_pairs_cte()}, edges AS (
  SELECT id_a AS a, id_b AS b FROM verified WHERE jaccard_sim >= 0.5
  UNION ALL
  SELECT id_b, id_a FROM verified WHERE jaccard_sim >= 0.5
), reach(v, m) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
), comp AS (
  SELECT v, MIN(m) AS component FROM reach GROUP BY v
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT v FROM comp WHERE v != component)
ORDER BY d.doc_id
"""


@query("dedup_survivors", oracle=_SURVIVORS_ORACLE)
def _dedup_survivors(spark, sf_dir):
    """THE end-to-end dedup a corpus user actually runs: MinHash-LSH
    pairs -> connected components (cluster id = min doc_id) -> anti
    join dropping every non-canonical member -> the deduplicated
    corpus. Composes dedup_minhash + dedup_components, whose driver
    rows gate the stages; this gates the composition. The anti join
    broadcasts the dropped-id set (dup clusters are a small fraction of
    any real corpus; if a corpus is MOSTLY duplicates, flip to a
    shuffle anti join on doc_id)."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(docs)
    comp = connected_components(pairs)
    dropped = comp.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(dropped), "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding int8 scalar quantization
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = f"""
WITH {INT8_CODES_CTE}
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim) AS codes_csv
FROM codes GROUP BY vec_id ORDER BY vec_id LIMIT 100
"""


@query("embedding_quantize_int8", oracle=_QUANTIZE_ORACLE)
def _embedding_quantize_int8(spark, sf_dir):
    """Scalar quantization of the embedding corpus to uint8 codes
    (operators/quantize.py) — 4x IO cut for the ANN tiers. Codes are
    exact integers (floor of bit-equal quotients), emitted as a CSV
    string per vector; LIMIT keeps the gated output bounded."""
    from ffi_etl_spark.operators.quantize import quantize_embeddings_int8

    emb = table(spark, sf_dir, "embeddings")
    return quantize_embeddings_int8(emb).orderBy("vec_id").limit(100)


# ---------------------------------------------------------------------------
# First-touch attribution
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, event_type AS first_touch
  FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
    FROM events
  ) WHERE rk = 1
), totals AS (
  SELECT user_id,
         SUM(CAST(value AS DECIMAL(18,6))) AS user_value,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(user_value) AS DOUBLE) AS attributed_value
FROM firsts JOIN totals USING (user_id)
GROUP BY first_touch ORDER BY first_touch
"""


@query("first_touch_attribution", oracle=_ATTRIBUTION_ORACLE)
def _first_touch_attribution(spark, sf_dir):
    """Classic marketing attribution: every user's lifetime value is
    credited to the channel (event_type) of their FIRST event. One
    window keyed by user for the first touch (WindowGroupLimit under
    rk=1), one user-keyed aggregate for lifetime totals — both shuffle
    on user_id, so AQE coalesces them into the same exchange. Value
    sums ride DECIMAL for exactness, cast to double only at the edge."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("first_touch"))
    )
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("user_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        firsts.join(totals, "user_id")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("n_events"),
            F.sum("user_value").cast("double").alias("attributed_value"),
        )
        .orderBy("first_touch")
    )


# ---------------------------------------------------------------------------
# Daily-count anomaly detection
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), stats AS (
  SELECT event_type,
         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
         stddev_samp(n) AS sigma
  FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day, d.n,
         abs(d.n - s.mu) AS dev,
         (d.n - s.mu) / s.sigma AS z,
         row_number() OVER (PARTITION BY d.event_type
                            ORDER BY abs(d.n - s.mu) DESC, d.day) AS rk
  FROM daily d JOIN stats s USING (event_type)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       printf('%.6f', dev) AS dev_s,
       CASE WHEN z IS NULL THEN NULL ELSE printf('%.6e', z) END AS z_s
FROM dev WHERE rk <= 3 ORDER BY event_type, day
"""


@query("event_count_anomaly", oracle=_ANOMALY_ORACLE)
def _event_count_anomaly(spark, sf_dir):
    """Volume-anomaly sweep: the 3 most deviant days per event type by
    absolute deviation from the mean daily count. RANKING uses only
    |n - mu| where mu = exact_sum/count (bit-equal — never a float
    avg() whose merge order varies), so membership is deterministic;
    the z-score display column divides by Welford-accumulated stddev
    and therefore leaves as a %.6e string (stats_moments rule). Scale:
    the pre-aggregation collapses the event stream to types x days
    rows; everything after is free."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.stddev_samp("n").alias("sigma"),
    )
    dev = F.abs(F.col("n") - F.col("mu"))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    w = Window.partitionBy("event_type").orderBy(dev.desc(), F.col("day"))
    return (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.format_string("%.6f", dev).alias("dev_s"),
            # z is NULL for a single-day type (stddev_samp NULL) or a
            # constant-count type (sigma 0 -> non-ANSI divide NULL);
            # unguarded format_string would print the STRING 'null'
            # where the oracle has SQL NULL
            F.when(z.isNotNull(), F.format_string("%.6e", z)).alias("z_s"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Winsorized robust scaling
# ---------------------------------------------------------------------------

_WINSORIZE_ORACLE = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN c.p95 = c.p05 THEN NULL
            ELSE printf('%.6f',
                        (least(greatest(e.value, c.p05), c.p95) - c.p05)
                          / (c.p95 - c.p05)) END
         AS scaled_s
FROM events e JOIN cuts c USING (event_type)
WHERE e.event_id % 101 = 0
ORDER BY e.event_id
"""


@query("winsorize_scale", oracle=_WINSORIZE_ORACLE)
def _winsorize_scale(spark, sf_dir):
    """Winsorize-then-scale feature prep: clamp each value into its
    event type's [p05, p95] band and scale to [0, 1] — the
    outlier-robust cousin of zscore_normalize. Exact percentiles
    (interpolation arithmetic is cross-engine bit-equal —
    quantiles_exact precedent) broadcast back as a K-row cut table; the
    scan-side work is a narrow projection. At 100 TB swap the cut
    computation to approx_percentile, same plan shape. Output subset
    keyed by event_id % 101 keeps the gate bounded and deterministic."""
    ev = table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    # degenerate band (p95 == p05, e.g. a constant-valued type) yields
    # NULL on BOTH engines — unguarded, Spark's format_string(NULL)
    # prints the string 'null' while DuckDB printf yields SQL NULL
    scaled = F.when(
        F.col("p95") != F.col("p05"),
        F.format_string(
            "%.6f", (clamped - F.col("p05")) / (F.col("p95") - F.col("p05"))
        ),
    )
    return (
        ev.filter(F.col("event_id") % 101 == 0)
        .join(F.broadcast(cuts), "event_type")
        .select("event_id", "event_type", "value", scaled.alias("scaled_s"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten audit
# ---------------------------------------------------------------------------

_GDPR_ORACLE = """
WITH subjects AS (
  SELECT DISTINCT user_id AS sid FROM events WHERE user_id % 97 = 0
)
SELECT 'customer' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_subjects
FROM customer WHERE c_custkey IN (SELECT sid FROM subjects)
UNION ALL
SELECT 'events',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM events WHERE user_id IN (SELECT sid FROM subjects)
UNION ALL
SELECT 'orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM orders WHERE o_custkey IN (SELECT sid FROM subjects)
ORDER BY table_name
"""


@query("gdpr_forget_audit", oracle=_GDPR_ORACLE)
def _gdpr_forget_audit(spark, sf_dir):
    """Deletion-impact audit for a right-to-be-forgotten batch: given a
    subject-id set, count the rows each table would purge. The subject
    set broadcasts into a LEFT SEMI join against every table — the
     100 TB shape (per-table scans prefiltered by a tiny broadcast; no
    table ever shuffles). Subjects here are the deterministic
    user_id % 97 cohort standing in for a deletion request feed."""
    ev = table(spark, sf_dir, "events")
    subjects = (
        ev.filter(F.col("user_id") % 97 == 0)
        .select(F.col("user_id").alias("sid"))
        .distinct()
    )

    def audit(df, key, name):
        return (
            df.join(F.broadcast(subjects), df[key] == F.col("sid"), "left_semi")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_subjects"),
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "n_subjects")
        )

    return (
        audit(table(spark, sf_dir, "customer"), "c_custkey", "customer")
        .unionByName(audit(ev, "user_id", "events"))
        .unionByName(audit(table(spark, sf_dir, "orders"), "o_custkey", "orders"))
        .orderBy("table_name")
    )


# ---------------------------------------------------------------------------
# Train/val/test split governance
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
                THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 8
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM assigned GROUP BY split ORDER BY split
"""


@query("train_val_test_split", oracle=_SPLIT_ORACLE)
def _train_val_test_split(spark, sf_dir):
    """8/1/1 train/val/test assignment by md5-hash-mod of the document
    key — reproducible across engines, runs, and partitionings (the
    deterministic_sample idiom), with the per-split audit row
    (count / char volume / key range) a data-governance review signs
    off on. Narrow projection + one K-row aggregate; no shuffle of
    document bodies."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Star-schema denormalization (the wide-table export)
# ---------------------------------------------------------------------------

_STAR_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
       o.o_orderdate, o.o_orderpriority,
       c.c_name, c.c_mktsegment,
       n.n_name AS cust_nation, r.r_name AS cust_region,
       p.p_name, p.p_brand, s.s_name
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE l.l_shipdate >= '1995-03-01' AND l.l_shipdate < '1995-03-08'
ORDER BY l.l_orderkey, l.l_linenumber
"""


@query("star_denormalize", oracle=_STAR_ORACLE)
def _star_denormalize(spark, sf_dir):
    """The flat-table export every downstream ML/BI consumer asks for:
    lineitem joined out to all five dimensions in one pass. The
    ship-date predicate pushes to the fact scan; every dimension join
    broadcasts (dims are small at any scale); the fact-to-orders join
    is the one true co-partitioned join — at 100 TB, bucket both on
    orderkey so it too is exchange-free. Nothing here shuffles the
    fact table at test scale: 6 broadcast joins over one scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-03-01") & (F.col("l_shipdate") < "1995-03-08")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "o_orderdate", "o_orderpriority",
            "c_name", "c_mktsegment",
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
            "p_name", "p_brand", "s_name",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier profile
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, m.med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type, m.med
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs(e.value - a.med) > (3.0 * 1.4826) * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       printf('%.6f', a.med) AS med_s,
       printf('%.6f', a.mad) AS mad_s
FROM events e JOIN mad a USING (event_type)
GROUP BY e.event_type, a.med, a.mad
ORDER BY e.event_type
"""


@query("mad_outliers", oracle=_MAD_ORACLE)
def _mad_outliers(spark, sf_dir):
    """Median-absolute-deviation outlier profile — the robust
    alternative to zscore_normalize's mean/std (one wild value can't
    drag the threshold). Two exact-percentile passes (median, then
    median of |x - med|) whose interpolation is cross-engine bit-equal,
    so the 3-sigma-equivalent (3 * 1.4826 * MAD) membership test is
    deterministic. Both cut tables are K rows and broadcast; at 100 TB
    the percentiles swap to approx_percentile, same two-pass shape."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    )
    is_out = F.abs(F.col("value") - F.col("med")) > (F.lit(3.0) * F.lit(1.4826)) * F.col(
        "mad"
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.format_string("%.6f", F.col("med")).alias("med_s"),
            F.format_string("%.6f", F.col("mad")).alias("mad_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Pareto skyline
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Count-min sketch frequency estimates
# ---------------------------------------------------------------------------


def _cms_bucket_sql(expr: str, row: int, width: int = 256) -> str:
    return (
        f"(('0x' || substr(md5('cms{row}_' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {width})::INT"
    )


def _cms_oracle(depth: int = 4, width: int = 256) -> str:
    slot_rows = "\n  UNION ALL\n".join(
        f"  SELECT user_id, {i} AS row, {_cms_bucket_sql('user_id', i, width)} AS bucket FROM events"
        for i in range(depth)
    )
    probe_rows = "\n  UNION ALL\n".join(
        f"  SELECT user_id, {i} AS row, {_cms_bucket_sql('user_id', i, width)} AS bucket"
        f" FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20)"
        for i in range(depth)
    )
    return f"""
WITH slots AS (
{slot_rows}
), sketch AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM slots GROUP BY row, bucket
), probe_slots AS (
{probe_rows}
), est AS (
  SELECT p.user_id, MIN(COALESCE(s.n, 0)) AS cms_est
  FROM probe_slots p LEFT JOIN sketch s USING (row, bucket)
  GROUP BY p.user_id
), exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events
  WHERE user_id < 20 GROUP BY user_id
)
SELECT e.user_id, e.exact_n, est.cms_est,
       CAST(est.cms_est >= e.exact_n AS BOOLEAN) AS never_undercounts
FROM exact e JOIN est USING (user_id)
ORDER BY user_id
"""


@query("countmin_frequency", oracle=_cms_oracle())
def _countmin_frequency(spark, sf_dir):
    """Count-min sketch (operators/sketches.py) built over the event
    stream, probed for the sub-20 user ids against exact counts. All
    counters are md5-bucketed integers, so sketch AND estimates are
    bit-reproducible cross-engine; the output pins the sketch's
    one-sided guarantee (est >= true) as a boolean column."""
    from ffi_etl_spark.operators.sketches import countmin_build, countmin_estimate

    ev = table(spark, sf_dir, "events")
    sketch = countmin_build(ev, "user_id")
    probes = ev.filter(F.col("user_id") < 20).select("user_id").distinct()
    est = countmin_estimate(sketch, probes, "user_id")
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------


def _projection_oracle(in_dim: int = 64, out_dim: int = 8) -> str:
    from ffi_etl_spark.operators.quantize import achlioptas_signs

    signs = achlioptas_signs(in_dim, out_dim)
    cols = ",\n       ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{s:.1f}" for s in signs[j])
        + f"]::DOUBLE[]) AS y{j}"
        for j in range(out_dim)
    )
    return f"""
SELECT vec_id,
       {cols}
FROM embeddings
ORDER BY vec_id
LIMIT 200
"""


@query("random_projection", oracle=_projection_oracle())
def _random_projection(spark, sf_dir):
    """64->8 Johnson-Lindenstrauss projection with the md5-seeded ±1
    Achlioptas matrix (operators/quantize.py::random_project): fully
    narrow (no shuffle — out_dim literal-array folds inside the scan
    stage), bit-equal to the oracle because each output dim is the
    SEQUENTIAL dot fold both engines share."""
    from ffi_etl_spark.operators.quantize import random_project

    emb = table(spark, sf_dir, "embeddings")
    return random_project(emb, in_dim=64, out_dim=8).orderBy("vec_id").limit(200)


# ---------------------------------------------------------------------------
# Bigram-LM transition anomaly profile
# ---------------------------------------------------------------------------

_LM_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
), bg AS (
  SELECT doc_id,
         unnest(toks[1:len(toks)-1]) AS t1,
         unnest(toks[2:len(toks)]) AS t2
  FROM toked WHERE len(toks) >= 2
), c_ab AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY t1, t2
), c_a AS (
  SELECT t1, CAST(COUNT(*) AS BIGINT) AS c_a FROM bg GROUP BY t1
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN CAST(ab.c_ab AS DOUBLE) / a.c_a < 0.01 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       MIN(CAST(ab.c_ab AS DOUBLE) / a.c_a) AS min_prob
FROM bg b
JOIN c_ab ab USING (t1, t2)
JOIN c_a a USING (t1)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


@query("lm_transition_anomaly", oracle=_LM_ORACLE)
def _lm_transition_anomaly(spark, sf_dir):
    """Corpus-trained bigram-LM fluency profile
    (operators/textops.py::lm_transition_anomaly): per-doc least-likely
    transition + rare-transition count — MIN/threshold-COUNT over exact
    integer ratios, never an order-dependent float sum."""
    from ffi_etl_spark.operators.textops import lm_transition_anomaly

    docs = table(spark, sf_dir, "documents")
    return lm_transition_anomaly(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Near-dup cluster profile
# ---------------------------------------------------------------------------

_CLUSTER_PROFILE_ORACLE = f"""
WITH RECURSIVE {minhash_pairs_cte()}, edges AS (
  SELECT id_a AS a, id_b AS b FROM verified WHERE jaccard_sim >= 0.5
  UNION ALL
  SELECT id_b, id_a FROM verified WHERE jaccard_sim >= 0.5
), reach(v, m) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
), comp AS (
  SELECT v, MIN(m) AS component FROM reach GROUP BY v
), sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


@query("dedup_cluster_profile", oracle=_CLUSTER_PROFILE_ORACLE)
def _dedup_cluster_profile(spark, sf_dir):
    """Duplication-structure report: the near-dup cluster size
    histogram (how much of the corpus is 2-way mirrors vs deep
    template families) — the number a curation team reads before
    choosing dedup aggressiveness. Pairs -> components -> two K-row
    aggregates; everything after the pair stage is free."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh(table(spark, sf_dir, "documents"))
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# kNN in quantized code space
# ---------------------------------------------------------------------------

_KNN_CODES_ORACLE = f"""
WITH {INT8_CODES_CTE}, probes AS (
  SELECT vec_id AS pid, dim, code AS pcode FROM codes WHERE vec_id IN (0, 1, 2)
), dists AS (
  SELECT p.pid, c.vec_id,
         CAST(SUM((c.code - p.pcode) * (c.code - p.pcode)) AS BIGINT) AS d2
  FROM codes c JOIN probes p USING (dim)
  WHERE c.vec_id != p.pid
  GROUP BY p.pid, c.vec_id
), ranked AS (
  SELECT pid, vec_id, d2,
         row_number() OVER (PARTITION BY pid ORDER BY d2, vec_id) AS rk
  FROM dists
)
SELECT pid, vec_id, d2, rk FROM ranked WHERE rk <= 10 ORDER BY pid, rk
"""


@query("knn_int8_codes", oracle=_KNN_CODES_ORACLE)
def _knn_int8_codes(spark, sf_dir):
    """Top-10 neighbors per probe in QUANTIZED code space
    (operators/quantize.py::knn_int8_codes) — the payoff for
    embedding_quantize_int8: quarter-width scans and an all-integer
    distance kernel whose ranking is bit-exact on any engine (float
    kNN's last-ulp rank boundaries need the tie-break discipline;
    integer kNN simply can't drift)."""
    from ffi_etl_spark.operators.quantize import knn_int8_codes

    emb = table(spark, sf_dir, "embeddings")
    out = knn_int8_codes(emb, probe_ids=[0, 1, 2], k=10)
    return out.select(
        "pid", F.col("vec_id"), F.col("d2").cast("long").alias("d2"), "rk"
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (full oracle: unrolled synchronous rounds)
# ---------------------------------------------------------------------------


# One constant ties the engine call and the oracle unroll together —
# a drifting operator default can't silently desynchronize them.
_LP_ROUNDS = 10


def _label_propagation_oracle(n_iter: int = _LP_ROUNDS) -> str:
    """Unrolled synchronous label propagation as a DuckDB CTE chain —
    upgrading the former rows-only gate to a full oracle. Legal
    because the update is PURE INTEGER arithmetic with a deterministic
    tie-break (most-frequent neighbor label, ties to the smallest
    label), and the engine's early exit fires only at a true fixpoint:
    once labels stop changing, further synchronous rounds are no-ops,
    so "stop at fixpoint or 10 rounds" ≡ "run exactly 10 rounds".
    Mirrors operators/graph.py::label_propagation round for round."""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f"""l{k} AS (
  SELECT a AS vertex, label FROM (
    SELECT e.a, l.label,
           ROW_NUMBER() OVER (
             PARTITION BY e.a ORDER BY COUNT(*) DESC, l.label
           ) AS rk
    FROM edges e JOIN l{k - 1} l ON l.vertex = e.b
    GROUP BY e.a, l.label
  ) WHERE rk = 1
)""")
    chain = ",\n".join(steps)
    return f"""
WITH {minhash_pairs_cte()}, lp_pairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard_sim >= 0.5
), edges AS (
  SELECT DISTINCT a, b FROM (
    SELECT id_a AS a, id_b AS b FROM lp_pairs
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM lp_pairs
  ) WHERE a != b
), l0 AS (
  SELECT DISTINCT a AS vertex, a AS label FROM edges
),
{chain}
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(vertex) AS canonical_doc
FROM l{n_iter}
GROUP BY label
ORDER BY community
"""


@query("label_propagation_communities", oracle=_label_propagation_oracle())
def _label_propagation_communities(spark, sf_dir):
    """Template families within the near-dup graph: synchronous label
    propagation over the MinHash pair graph
    (operators/graph.py::label_propagation).

    Upgraded from rows-only to a FULL oracle: the LP update is pure
    integer arithmetic with a deterministic tie-break, and the
    engine's fixpoint early-exit is parity-neutral (post-fixpoint
    synchronous rounds are no-ops), so 10 unrolled SQL rounds compute
    the identical labeling. The crafted two-cliques test still locks
    the operator-level semantics. Output: one row per community with
    its size and canonical (min) member."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import label_propagation

    pairs = dedup_minhash_lsh(table(spark, sf_dir, "documents"))
    comm = label_propagation(pairs, max_iter=_LP_ROUNDS)
    return (
        comm.groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vertex").alias("canonical_doc"),
        )
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# Pareto skyline
# ---------------------------------------------------------------------------


_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_partkey
"""


@query("skyline_pareto", oracle=_SKYLINE_ORACLE)
def _skyline_pareto(spark, sf_dir):
    """Pareto skyline of parts (minimize retail price, maximize size):
    operators/skyline.py's two-phase sort + running-max — local prune
    per partition, then one pass over the tiny survivor union — never
    the O(n²) dominance self-join the oracle spells out. Prices
    quantize to exact cents for the tie-exact RANGE frame (2-decimal
    source values, so cents ordering == price ordering)."""
    from ffi_etl_spark.operators.skyline import skyline_2d

    p = table(spark, sf_dir, "part").withColumn(
        "_cents", F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    )
    return (
        skyline_2d(p, minimize="_cents", maximize="p_size")
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )
