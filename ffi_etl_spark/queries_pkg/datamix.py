"""Training-data layout queries: shard assignment, source-mixture
balancing, sorted-neighborhood dedup.

The export-side ops of a pretraining pipeline: how a cleaned corpus is
sharded, mixed, and last-pass deduplicated on its way to the trainer.
All draws are md5-derived so both engines compute identical integers
(engine-state memory: ``conv(substr(md5(x),1,8),16,10)`` ==
``('0x'||substr(md5(x),1,8))::BIGINT``) — sampling decisions are pure
integer comparisons, never float thresholds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.functions.hashing import md5_int32
from ffi_etl_spark.queries_pkg import query


# --- deterministic shard assignment -------------------------------------------

@query(
    "shard_assignment",
    oracle="""
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY shard_id
ORDER BY shard_id
""",
)
def _shard_assignment(spark, sf_dir):
    """Deterministic 16-way shard layout for a training export: shard =
    md5(doc_id) mod 16, so the assignment is stable across runs,
    engines, and partitionings (a seeded ``repartition`` is not). The
    summary here is the manifest a trainer checks (docs + chars per
    shard); the real export is one ``write.partitionBy("shard_id")``
    over the same expression. ``n_chars`` is integer, so SUM is exact
    on both engines."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("shard_id", md5_int32(F.col("doc_id").cast("string")) % 16)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard_id")
    )


# --- source-mixture balancing -------------------------------------------------

@query(
    "mixture_balance",
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
mn AS (SELECT MIN(n_total) AS min_n FROM counts),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d
  JOIN counts c USING (source) CROSS JOIN mn
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT::HUGEINT
        * c.n_total < mn.min_n::HUGEINT * 4294967296
  GROUP BY d.source
)
SELECT c.source, c.n_total, COALESCE(k.n_kept, 0) AS n_kept
FROM counts c LEFT JOIN kept k USING (source)
ORDER BY c.source
""",
)
def _mixture_balance(spark, sf_dir):
    """Data-mixture balancing: downsample every source to the size of
    the smallest one (uniform target mixture), with a per-document
    md5 draw. The keep decision is the INTEGER comparison
    ``draw * n_source < min_n * 2^32`` — exactly the rational
    ``draw/2^32 < min_n/n_source`` with no float rounding to disagree
    on. Both products run in exact wide arithmetic (Spark DECIMAL(38),
    DuckDB HUGEINT): draw < 2^32 but at 100 TB a per-source count can
    exceed 2^31, and an int64 product would wrap silently under the
    session's non-ANSI casts.

    Plan: one K-row counts agg, broadcast back over the corpus
    (`n_total` per row), scan-side filter. Two passes over documents,
    zero wide shuffles of the corpus — the 100 TB shape."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    kept = (
        d.join(F.broadcast(counts), "source")
        .join(F.broadcast(min_n))
        .where(
            md5_int32(F.col("doc_id").cast("string")).cast("decimal(38,0)") * F.col("n_total")
            < F.col("min_n").cast("decimal(38,0)") * F.lit(4294967296)
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# --- temperature-flattened mixture sampling -----------------------------------

@query(
    "mixture_temperature",
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
mn AS (SELECT MIN(n_total) AS min_n FROM counts),
kept AS (
  SELECT d.source,
         COUNT(*) FILTER (
           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT::HUGEINT
           * c.n_total < mn.min_n::HUGEINT * 4294967296
         ) AS n_kept_uniform,
         COUNT(*) FILTER (
           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           < CAST(floor(sqrt(CAST(mn.min_n AS DOUBLE) / c.n_total) * 4294967296) AS BIGINT)
         ) AS n_kept_temp
  FROM documents d
  JOIN counts c USING (source) CROSS JOIN mn
  GROUP BY d.source
)
SELECT c.source, c.n_total,
       COALESCE(k.n_kept_uniform, 0) AS n_kept_uniform,
       COALESCE(k.n_kept_temp, 0) AS n_kept_temp
FROM counts c LEFT JOIN kept k USING (source)
ORDER BY c.source
""",
)
def _mixture_temperature(spark, sf_dir):
    """Temperature-flattened source mixing (α=0.5), beside the uniform
    target for contrast: per-source keep probability is
    ``(min_n/n_s)^0.5`` instead of ``min_n/n_s`` — big sources are
    downsampled LESS than proportionally, the standard multilingual /
    multi-corpus rebalancing knob (α=1 → uniform mixture, α=0 → natural
    mixture).

    Cross-engine determinism without rational arithmetic: sqrt and
    division are IEEE-correctly-rounded in both engines and the 2^32
    scale factor is a power of two (exact), so
    ``floor(sqrt(min_n/n_s)·2^32)`` is the same int64 on both sides,
    and the keep decision stays an integer comparison against the md5
    draw. The uniform branch's products run in exact wide arithmetic
    (DECIMAL(38) / HUGEINT) — see ``mixture_balance``. Same plan shape
    as ``mixture_balance``: K-row counts agg broadcast back over the
    corpus, scan-side filters, no wide shuffle."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    draw = md5_int32(F.col("doc_id").cast("string"))
    kept = (
        d.join(F.broadcast(counts), "source")
        .join(F.broadcast(min_n))
        .groupBy("source")
        .agg(
            F.count_if(
                draw.cast("decimal(38,0)") * F.col("n_total")
                < F.col("min_n").cast("decimal(38,0)") * F.lit(4294967296)
            ).alias("n_kept_uniform"),
            F.count_if(draw < _temp_threshold()).alias("n_kept_temp"),
        )
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept_uniform", F.lit(0)).alias("n_kept_uniform"),
            F.coalesce("n_kept_temp", F.lit(0)).alias("n_kept_temp"),
        )
        .orderBy("source")
    )


def _temp_threshold():
    """floor(sqrt(min_n/n_total)·2^32) — the α=0.5 keep threshold
    expression (expects `min_n`/`n_total` columns in scope); IEEE
    sqrt/div + power-of-two scale make it the same int64 cross-engine."""
    return F.floor(
        F.sqrt(F.col("min_n").cast("double") / F.col("n_total"))
        * F.lit(4294967296.0)
    ).cast("long")


def temperature_sample(d):
    """α=0.5 temperature-flattened keep-set of a documents frame — THE
    keep rule, defined once and shared by the ``mixture_temperature`` /
    ``training_export`` gates and ``examples/export_training_shards.py``
    (three call sites, one rule: a change here cannot silently diverge
    between the example, the gated query, and the oracle tests).
    Returns the kept rows with the mixture bookkeeping columns dropped."""
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    return (
        d.join(F.broadcast(counts), "source")
        .join(F.broadcast(min_n))
        .where(md5_int32(F.col("doc_id").cast("string")) < _temp_threshold())
        .drop("n_total", "min_n")
    )


# --- composed export: temperature sample -> shard -> manifest ----------------

@query(
    "training_export",
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
mn AS (SELECT MIN(n_total) AS min_n FROM counts),
kept AS (
  SELECT d.doc_id, d.n_chars
  FROM documents d JOIN counts c USING (source) CROSS JOIN mn
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        < CAST(floor(sqrt(CAST(mn.min_n AS DOUBLE) / c.n_total) * 4294967296) AS BIGINT)
),
sharded AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard_id,
         doc_id, n_chars
  FROM kept
)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM sharded GROUP BY shard_id ORDER BY shard_id
""",
)
def _training_export(spark, sf_dir):
    """The datamix family's composed flagship: temperature-flattened
    source sampling (α=0.5, the ``mixture_temperature`` keep rule) →
    deterministic md5-mod-8 sharding → the per-shard manifest a
    trainer validates before reading (docs, chars, id range). The real
    export is the same plan ending in
    ``write.partitionBy("shard_id")`` (examples/export_training_shards
    .py runs exactly that); the gated query returns the manifest.

    One corpus scan + a K-row broadcast counts table; the only shuffle
    is the final 8-group manifest aggregate."""
    kept = temperature_sample(table(spark, sf_dir, "documents"))
    return (
        kept.withColumn("shard_id", md5_int32(F.col("doc_id").cast("string")) % 8)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard_id")
    )


# --- sorted-neighborhood dedup ------------------------------------------------

@query(
    "dedup_sorted_neighborhood",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         lower(regexp_replace(substr(text, 1, 40), '\\s+', '', 'g')) AS sk
  FROM documents
),
blocked AS (
  SELECT doc_id, sk, substr(sk, 1, 2) AS blk FROM keyed
),
lagged AS (
  SELECT blk, doc_id, sk,
         LAG(doc_id) OVER w AS prev_id,
         LAG(sk) OVER w AS prev_sk
  FROM blocked
  WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
)
SELECT prev_id AS doc_a, doc_id AS doc_b,
       levenshtein(prev_sk, sk) AS dist
FROM lagged
WHERE prev_id IS NOT NULL AND levenshtein(prev_sk, sk) <= 8
ORDER BY doc_a, doc_b
""",
)
def _dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood dedup (the third blocking family beside
    LSH — `operators/dedup.py` — and token blocking —
    `fuzzy_match_blocked`): normalize a 40-char sort key, sort within
    a 2-char prefix block, and compare each doc to its immediate
    neighbor with exact ``levenshtein``. Near-dups cluster under the
    sort, so a window of 1 catches them at O(n log n), not O(n²).

    The window partitions by the prefix block — neighbor pairs that
    straddle block boundaries are the method's documented loss (SNM's
    classic trade) and what keeps this a per-block sort instead of a
    single-partition global window at 100 TB."""
    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.lower(
            F.regexp_replace(F.substring("text", 1, 40), r"\s+", "")
        ).alias("sk"),
    ).withColumn("blk", F.substring("sk", 1, 2))
    w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    lagged = keyed.select(
        "doc_id",
        "sk",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("sk").over(w).alias("prev_sk"),
    )
    return (
        lagged.where(F.col("prev_id").isNotNull())
        .withColumn("dist", F.levenshtein("prev_sk", "sk"))
        .where(F.col("dist") <= 8)
        .select(
            F.col("prev_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            "dist",
        )
        .orderBy("doc_a", "doc_b")
    )


# --- exact-k deterministic reservoir sample ----------------------------------

@query(
    "reservoir_sample",
    oracle="""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id
LIMIT 100
""",
)
def _reservoir_sample(spark, sf_dir):
    """Exact-k uniform sample as a deterministic reservoir: keep the k
    smallest md5 draws (classic bottom-k). Same statistics as a
    sequential reservoir, but order-free and re-runnable: the kept set
    depends only on doc ids, never on scan order or partitioning.

    Plan shape: ``orderBy(draw).limit(k)`` lowers to
    TakeOrderedAndProject — each partition keeps its local top-k and the
    driver merges k·partitions rows; NO global sort, no single-partition
    window, which is what makes bottom-k the 100 TB sampling primitive
    (`sample(fraction)` can't hit an exact k; a row_number window over a
    global order would funnel the corpus through one task)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source", "n_chars")
        .orderBy(md5_int32(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(100)
    )


# --- quality-aware canonical selection over normalized-dup groups -------------

@query(
    "dedup_keep_best",
    oracle="""
WITH normed AS (
  SELECT doc_id, n_chars,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_key
  FROM documents
), ranked AS (
  SELECT content_key, doc_id, n_chars,
         row_number() OVER (PARTITION BY content_key
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY content_key) AS n_variants
  FROM normed
)
SELECT content_key, doc_id AS keep_id, n_chars AS keep_chars,
       CAST(n_variants AS BIGINT) AS n_variants
FROM ranked WHERE rn = 1
""",
)
def _dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: docs that collapse to the
    same case/punctuation-normalized content form one group, and the
    group keeps its RICHEST member (max raw chars, ties → min id)
    instead of the min-id arbitrary pick ``dedup_exact`` makes. This is
    the production dedup policy for a training corpus — near-identical
    variants differ in formatting, and you keep the least-degraded one.

    Plan shape: ONE aggregation (``max_by`` over a (n_chars, -doc_id)
    struct), no window — the oracle uses row_number only because SQL
    lacks max_by-with-tiebreak. max_by's pair buffer is not
    hash-aggregable, so this compiles to partial+final SortAggregate:
    still a single shuffle with map-side partials (each partition sorts
    by group KEY, never materializing a group's members together),
    which is the property a per-group window lacks."""
    d = table(spark, sf_dir, "documents")
    key = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")))
    return (
        d.select(key.alias("content_key"), "doc_id", "n_chars")
        .groupBy("content_key")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_neg"))
            ).alias("keep_id"),
            F.max("n_chars").alias("keep_chars"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# --- deterministic shard-local training order ---------------------------------

@query(
    "training_order",
    oracle="""
WITH d AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard_id,
         md5('seed1:' || CAST(doc_id AS VARCHAR)) AS draw
  FROM documents
)
SELECT shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY draw, doc_id) AS BIGINT)
         AS position,
       doc_id
FROM d
""",
)
def _training_order(spark, sf_dir):
    """Deterministic global shuffle for training-example order: every
    doc draws a seeded md5 permutation key and is ranked WITHIN its
    shard — the (shard_id, position) pair is a reproducible epoch
    order, stable across runs/engines/partitionings (a ``rand()`` sort
    is none of those). Changing the seed string re-shuffles every epoch.

    Scale shape: the window partitions by shard, so the sort is
    per-shard (a training export has thousands of shards → thousands
    of parallel sorts) — never one global sort. The md5 draw reuses the
    engine's portable-uniform idiom (module docstring)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("shard_id").orderBy("draw", "doc_id")
    return (
        d.select(
            "doc_id",
            (md5_int32(F.col("doc_id").cast("string")) % 8).alias("shard_id"),
            F.md5(F.concat(F.lit("seed1:"), F.col("doc_id").cast("string"))).alias(
                "draw"
            ),
        )
        .select(
            "shard_id",
            F.row_number().over(w).cast("long").alias("position"),
            "doc_id",
        )
    )


# --- unigram-entropy quality signal ------------------------------------------

@query(
    "token_entropy",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), per AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
), ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, SUM(c * ln(c)) AS clogc
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(e.n, 0) AS n_tokens,
       printf('%.6e', CASE WHEN COALESCE(e.n, 0) > 0
                             AND abs(ln(e.n) - e.clogc / e.n) >= 1e-12
                           THEN ln(e.n) - e.clogc / e.n ELSE 0.0 END)
         AS entropy_nats
FROM documents d LEFT JOIN ent e USING (doc_id)
""",
)
def _token_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy (operators/textops.py::
    token_entropy). Upgraded from rows-only to a FULL oracle in round 4
    (the approx_distinct_users precedent): per the stats_moments rule,
    the transcendental/partition-order-accumulated float leaves as a
    %.6e fixed-precision string on both engines — last-ulp ln() and
    summation-order differences sit ~1e-14 relative, eight orders
    below the 7-significant-digit band. The independent gate remains
    the Counter differential in test_corpus_hygiene.py.

    Near-zero clamp (review find): a single-distinct-token doc's
    entropy is the cancellation residue ``ln(n) − n·ln(n)/n`` — a
    ±1-ulp value whose BIT PATTERN is engine-libm-dependent, and %.6e
    of 2.2e-16 vs 0.0 is a hard mismatch. |entropy| < 1e-12 (far above
    ulp noise, far below any real entropy) snaps to +0.0 on both
    engines before formatting."""
    from ffi_etl_spark.operators.textops import token_entropy

    d = table(spark, sf_dir, "documents")
    e = F.col("entropy_nats")
    return token_entropy(d).select(
        "doc_id",
        "n_tokens",
        F.format_string(
            "%.6e", F.when(F.abs(e) < 1e-12, F.lit(0.0)).otherwise(e)
        ).alias("entropy_nats"),
    )
