"""Round-4b additions: token-accounted mixing, batch-padding audit,
daily autocorrelation, and CCNet-style per-language quality tiers.

Training-data budgeting is specified in TOKENS, not documents — the
first two queries re-express the datamix family's deterministic
md5-draw sampling and sharding in token units. The other two are the
corpus-health analytics a platform team runs weekly: is the event
volume seasonally stable (autocorrelation), and how does each
language's corpus split into head/middle/tail quality tiers (the
CCNet bucketing that decides what is kept, resampled, or dropped).

Parity rules as everywhere (see datamix.py / analytics.py): sampling
decisions are integer comparisons on md5 draws in exact wide
arithmetic; floats derived from exact integer sums leave as
fixed-precision strings; percentile cutoffs use the bit-equal
F.percentile / quantile_cont pair.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.functions.hashing import md5_int32
from ffi_etl_spark.functions.textstats import (
    ENGLISH_STOPWORDS,
    LANG_MARKERS,
    stopword_ratio,
    ws_token_count,
)
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import jround, kmeans_det_cte

_WS_TOK_SQL = r"CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)"
_DRAW_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


# ---------------------------------------------------------------------------
# token-budget mixture: sampling decisions weighted by tokens, not docs
# ---------------------------------------------------------------------------

@query(
    "token_budget_mixture",
    oracle=rf"""
WITH toks AS (
  SELECT source, doc_id, {_WS_TOK_SQL} AS n_tok FROM documents
),
counts AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_total
  FROM toks GROUP BY source
),
mn AS (SELECT MIN(tok_total) AS min_tok FROM counts),
kept AS (
  SELECT t.source,
         COUNT(*) FILTER (
           {_DRAW_SQL}::HUGEINT * c.tok_total < mn.min_tok::HUGEINT * 4294967296
         ) AS docs_kept,
         CAST(COALESCE(SUM(t.n_tok) FILTER (
           {_DRAW_SQL}::HUGEINT * c.tok_total < mn.min_tok::HUGEINT * 4294967296
         ), 0) AS BIGINT) AS tokens_kept
  FROM toks t JOIN counts c USING (source) CROSS JOIN mn
  GROUP BY t.source
)
SELECT c.source, c.n_docs, c.tok_total, k.docs_kept, k.tokens_kept
FROM counts c JOIN kept k USING (source)
ORDER BY c.source
""",
)
def _token_budget_mixture(spark, sf_dir):
    """Token-budget mixture accounting: training mixtures are specified
    in tokens, so the uniform-target downsample here keeps each doc
    with probability ``min_source_tokens / source_tokens`` — every
    source contributes the same EXPECTED token budget, regardless of
    how its documents are sized. The keep decision is the exact
    integer comparison ``draw * tok_total < min_tok * 2^32`` in wide
    arithmetic (Spark DECIMAL(38), DuckDB HUGEINT — a per-source token
    total at 100 TB far exceeds 2^31, so an int64 product would wrap).

    Plan: one token-count scan feeding a K-row per-source totals agg,
    broadcast back over the corpus, one counting agg — two scans of
    documents, zero wide shuffles of the corpus (the `mixture_balance`
    shape, re-weighted by tokens).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id", ws_token_count(F.col("text")).cast("long").alias("n_tok")
    )
    counts = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tok_total")
    )
    mn = counts.agg(F.min("tok_total").alias("min_tok"))
    keep = (
        md5_int32(F.col("doc_id").cast("string")).cast("decimal(38,0)") * F.col("tok_total")
        < F.col("min_tok").cast("decimal(38,0)") * F.lit(4294967296)
    )
    kept = (
        toks.join(F.broadcast(counts.select("source", "tok_total")), "source")
        .join(F.broadcast(mn))
        .groupBy("source")
        .agg(
            F.count_if(keep).alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_tok")).otherwise(F.lit(0))).alias(
                "tokens_kept"
            ),
        )
    )
    return (
        counts.join(kept, "source")
        .select("source", "n_docs", "tok_total", "docs_kept", "tokens_kept")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# padding-efficiency audit: random vs length-sorted batch formation
# ---------------------------------------------------------------------------

_PAD_SHARDS = 8   # scale with the cluster: one window per (shard) reducer
_PAD_BATCH = 32   # sequences per training batch


@query(
    "padding_efficiency",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, {_WS_TOK_SQL} AS n_tok, {_DRAW_SQL} AS draw FROM documents
),
base AS (SELECT *, draw % {_PAD_SHARDS} AS shard FROM toks),
ra AS (
  SELECT shard, n_tok,
         (row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) - 1)
           // {_PAD_BATCH} AS batch
  FROM base
),
rb AS (
  SELECT shard, n_tok,
         (row_number() OVER (PARTITION BY shard ORDER BY n_tok, doc_id) - 1)
           // {_PAD_BATCH} AS batch
  FROM base
),
ba AS (
  SELECT shard, batch, CAST(SUM(n_tok) AS BIGINT) AS real_t,
         CAST(MAX(n_tok) * COUNT(*) AS BIGINT) AS pad_t
  FROM ra GROUP BY shard, batch
),
bb AS (
  SELECT shard, batch, CAST(SUM(n_tok) AS BIGINT) AS real_t,
         CAST(MAX(n_tok) * COUNT(*) AS BIGINT) AS pad_t
  FROM rb GROUP BY shard, batch
)
SELECT 'length_sorted' AS strategy, COUNT(*) AS n_batches,
       CAST(SUM(real_t) AS BIGINT) AS tokens_real,
       CAST(SUM(pad_t) AS BIGINT) AS tokens_padded
FROM bb
UNION ALL
SELECT 'random', COUNT(*), CAST(SUM(real_t) AS BIGINT), CAST(SUM(pad_t) AS BIGINT)
FROM ba
ORDER BY strategy
""",
)
def _padding_efficiency(spark, sf_dir):
    """Batch-padding audit: when sequences are padded to the longest
    member of each fixed-size training batch, random batch formation
    wastes far more compute than length-sorted formation. Both
    strategies are simulated deterministically — shard by md5 draw,
    order within shard (by draw = random; by token count = sorted),
    chunk into batches of {batch}, pad each batch to its max — and the
    audit reports total real vs padded tokens per strategy (2 rows;
    the saved fraction is the reader's division).

    Plan: windows are partitioned by shard, never global — thousands
    of parallel per-shard sorts at cluster scale ({shards} here; the
    constant scales with the cluster like `training_order`). All
    arithmetic is integer; sums are exact on both engines.
    """
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        ws_token_count(F.col("text")).cast("long").alias("n_tok"),
        md5_int32(F.col("doc_id").cast("string")).alias("draw"),
    ).withColumn("shard", F.col("draw") % _PAD_SHARDS)

    def batched(order_cols):
        w = Window.partitionBy("shard").orderBy(*order_cols)
        return (
            base.withColumn("rn", F.row_number().over(w))
            .withColumn("batch", F.expr(f"(rn - 1) div {_PAD_BATCH}"))
            .groupBy("shard", "batch")
            .agg(
                F.sum("n_tok").alias("real_t"),
                (F.max("n_tok") * F.count(F.lit(1))).alias("pad_t"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_batches"),
                F.sum("real_t").alias("tokens_real"),
                F.sum("pad_t").alias("tokens_padded"),
            )
        )

    rand = batched(["draw", "doc_id"]).select(
        F.lit("random").alias("strategy"), "n_batches", "tokens_real", "tokens_padded"
    )
    srt = batched(["n_tok", "doc_id"]).select(
        F.lit("length_sorted").alias("strategy"),
        "n_batches",
        "tokens_real",
        "tokens_padded",
    )
    return srt.unionByName(rand).orderBy("strategy")


_padding_efficiency.__doc__ = _padding_efficiency.__doc__.format(
    batch=_PAD_BATCH, shards=_PAD_SHARDS
)


# ---------------------------------------------------------------------------
# daily autocorrelation of event volume (lag-1 / lag-7)
# ---------------------------------------------------------------------------

def _autocorr_sql(lag: int) -> str:
    # products are widened to HUGEINT BEFORE summation (the Spark twin
    # widens to DECIMAL(38) the same way — int64 sums of int64 products
    # would wrap at ~1e8 events/day); degenerate series (zero variance
    # at this lag) emit NULL on both engines instead of printf'ing a
    # NaN whose spelling differs between Java and DuckDB.
    return f"""
SELECT {lag} AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         printf('%.6e',
           CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
       END AS autocorr
FROM (
  SELECT COUNT(*)::HUGEINT AS n,
         COALESCE(SUM(x::HUGEINT), 0) AS sx, COALESCE(SUM(y::HUGEINT), 0) AS sy,
         COALESCE(SUM(x::HUGEINT * y), 0) AS sxy,
         COALESCE(SUM(x::HUGEINT * x), 0) AS sxx,
         COALESCE(SUM(y::HUGEINT * y), 0) AS syy
  FROM pairs{lag}
)
"""


@query(
    "daily_autocorr",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY day
),
pairs1 AS (
  SELECT a.cnt AS x, b.cnt AS y FROM daily a JOIN daily b ON b.day = a.day + 1
),
pairs7 AS (
  SELECT a.cnt AS x, b.cnt AS y FROM daily a JOIN daily b ON b.day = a.day + 7
)
{_autocorr_sql(1)}
UNION ALL
{_autocorr_sql(7)}
ORDER BY lag
""",
)
def _daily_autocorr(spark, sf_dir):
    """Lag-1 / lag-7 autocorrelation of the daily event-count series —
    the seasonality probe a platform team runs before trusting any
    day-over-day anomaly rule (`event_count_anomaly`): a high lag-7
    value says the series has weekly structure and anomaly baselines
    must be weekday-matched.

    Cross-engine determinism: the Pearson terms are assembled from
    EXACT integer sums (counts are integers, so Σx, Σxy, Σx² are exact
    in DECIMAL(38)/HUGEINT — no partition-order float accumulation,
    unlike the raw `corr()` aggregate that failed r03), converted to
    double only at the edge, and shipped as %.6e fixed-precision
    strings per the stats_moments rule. The variance product is NOT
    computed in integers (at 100 TB it would overflow even DECIMAL(38));
    each variance converts to double before its own sqrt.

    Plan: one events scan → K-row daily agg; the lag joins and the
    moment aggs run on the tiny post-aggregate frame (broadcast).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def one(lag: int):
        a, b = daily.alias("a"), daily.alias("b")
        pairs = a.join(
            F.broadcast(b), F.col("b.day") == F.date_add(F.col("a.day"), lag)
        ).select(F.col("a.cnt").alias("x"), F.col("b.cnt").alias("y"))
        # widen BEFORE the products/sums: int64 sums of int64 products
        # wrap at ~1e8 events/day; decimal(19) factors keep every
        # product and sum inside decimal(38) exactly like the oracle's
        # HUGEINT lane
        d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        agg = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(d19(F.col("x"))), F.lit(0)).alias("sx"),
            F.coalesce(F.sum(d19(F.col("y"))), F.lit(0)).alias("sy"),
            F.coalesce(F.sum(d19(F.col("x")) * d19(F.col("y"))), F.lit(0)).alias("sxy"),
            F.coalesce(F.sum(d19(F.col("x")) * d19(F.col("x"))), F.lit(0)).alias("sxx"),
            F.coalesce(F.sum(d19(F.col("y")) * d19(F.col("y"))), F.lit(0)).alias("syy"),
        )
        num = d38(F.col("n")) * d38(F.col("sxy")) - d38(F.col("sx")) * d38(F.col("sy"))
        varx = d38(F.col("n")) * d38(F.col("sxx")) - d38(F.col("sx")) * d38(F.col("sx"))
        vary = d38(F.col("n")) * d38(F.col("syy")) - d38(F.col("sy")) * d38(F.col("sy"))
        return agg.select(
            F.lit(lag).alias("lag"),
            F.col("n").alias("n_pairs"),
            F.when(
                (varx > 0) & (vary > 0),
                F.format_string(
                    "%.6e",
                    num.cast("double")
                    / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
                ),
            ).alias("autocorr"),
        )

    return one(1).unionByName(one(7)).orderBy("lag")


# ---------------------------------------------------------------------------
# CCNet-style head/middle/tail quality tiers per language
# ---------------------------------------------------------------------------

_STOP_PAT = r"\b(" + "|".join(ENGLISH_STOPWORDS) + r")\b"


@query(
    "ccnet_quality_tiers",
    oracle=rf"""
WITH scored AS (
  SELECT lang, n_chars,
         len(regexp_extract_all(lower(text), '{_STOP_PAT}', 0))::DOUBLE
           / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS score
  FROM documents
),
cuts AS (
  SELECT lang, quantile_cont(score, 1.0/3) AS p33, quantile_cont(score, 2.0/3) AS p67
  FROM scored GROUP BY lang
)
SELECT s.lang,
       CASE WHEN s.score >= c.p67 THEN 'head'
            WHEN s.score >= c.p33 THEN 'middle'
            ELSE 'tail' END AS tier,
       COUNT(*) AS n_docs,
       CAST(SUM(s.n_chars) AS BIGINT) AS chars_total
FROM scored s JOIN cuts c USING (lang)
GROUP BY s.lang, tier
ORDER BY s.lang, tier
""",
)
def _ccnet_quality_tiers(spark, sf_dir):
    """CCNet-style quality bucketing: per language, split the corpus
    into head / middle / tail tiers at the tertiles of a fluency
    score, so downstream mixing can up-sample head and drop tail
    (the standard web-corpus curation shape; CCNet does it on LM
    perplexity — the score here is the engine's stopword-density
    fluency proxy, the same raw ratio `text_stats` reports).

    Cross-engine determinism: the score is one integer/integer IEEE
    division (bit-equal both engines); the tertile cutoffs use the
    established bit-equal interpolated-percentile pair (F.percentile ≡
    quantile_cont, the winsorize/MAD idiom), so the `score >= cutoff`
    tier decisions agree exactly — no float ever leaves the query (the
    output is counts and exact char sums).

    Plan: score computed in the scan stage (regexp codegen, no
    shuffle), one K-row per-language percentile agg broadcast back,
    one counting agg — the `zscore_normalize` broadcast-stats shape.
    """
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "lang", "n_chars", stopword_ratio(F.col("text")).alias("score")
    )
    cuts = scored.groupBy("lang").agg(
        F.percentile("score", F.lit(1.0 / 3)).alias("p33"),
        F.percentile("score", F.lit(2.0 / 3)).alias("p67"),
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select(
            "lang",
            "n_chars",
            F.when(F.col("score") >= F.col("p67"), "head")
            .when(F.col("score") >= F.col("p33"), "middle")
            .otherwise("tail")
            .alias("tier"),
        )
        .groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars_total")
        )
        .orderBy("lang", "tier")
    )


# ---------------------------------------------------------------------------
# tokenizer-vocab coverage audit (OOV rate per source)
# ---------------------------------------------------------------------------

_VOCAB_K = 1000


@query(
    "vocab_coverage",
    oracle=rf"""
WITH terms AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term
  ) ORDER BY cnt DESC, term LIMIT {_VOCAB_K}
)
SELECT t.source,
       COUNT(*) AS total_tokens,
       COUNT(*) FILTER (v.term IS NULL) AS oov_tokens
FROM terms t LEFT JOIN vocab v USING (term)
GROUP BY t.source
ORDER BY t.source
""",
)
def _vocab_coverage(spark, sf_dir):
    """Tokenizer-fit audit: build a vocabulary from the corpus's top-K
    terms and report each source's out-of-vocabulary token mass — the
    cheap proxy for "how badly will a fixed tokenizer fragment this
    source" that decides whether a source needs tokenizer retraining
    or gets down-weighted. Vocabulary selection is deterministic
    (count desc, term asc — rank-K ties resolved identically on both
    engines).

    Plan: ONE term explode feeds both passes; the vocab is a top-K
    TakeOrderedAndProject over the term-count agg (never a global
    sort) and broadcasts back into the per-source membership count —
    the corpus shuffles once (term agg), counts are exact integers.
    """
    d = table(spark, sf_dir, "documents")
    terms = d.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(_VOCAB_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("oov_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# RFM behavioral features with deterministic quintiles
# ---------------------------------------------------------------------------

@query(
    "rfm_features",
    oracle="""
WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', MAX(CAST(ts AS DATE)), (SELECT ref_day FROM ref))
           AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary,
       ntile(5) OVER (ORDER BY recency_days, user_id) AS r_q,
       ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_q,
       ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_q
FROM per_user
ORDER BY user_id
""",
)
def _rfm_features(spark, sf_dir):
    """RFM feature extraction — the classic behavioral feature triple
    (recency / frequency / monetary) plus deterministic quintile
    scores, the feature-store export shape for churn/value models.

    Cross-engine determinism: recency is integer date math against a
    1-row broadcast max-date (the census A4 idiom); monetary sums
    DECIMAL(18,2) exactly before the single cast to double; every
    ntile ORDER BY carries user_id so the quintile assignment is a
    total order both engines replay identically.

    Plan: one user-keyed agg (events' natural key), then K-row
    windows over the POST-aggregate user frame. At 100 TB of USERS
    the three global ntiles swap to the two-phase global-rank replay
    (`histogram_equidepth`); at 100 TB of events over bounded users
    this plan is already right."""
    e = table(spark, sf_dir, "events")
    ref = e.agg(F.max(F.to_date("ts")).alias("ref_day"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.col("ref_day"), F.col("last_day")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    w = lambda *cols: Window.orderBy(*cols)  # noqa: E731
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(w("recency_days", "user_id")).alias("r_q"),
        F.ntile(5).over(w(F.col("frequency").desc(), "user_id")).alias("f_q"),
        F.ntile(5).over(w(F.col("monetary").desc(), "user_id")).alias("m_q"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# language-confusion matrix: declared lang vs detected lang
# ---------------------------------------------------------------------------

def _marker_sql(pat: str) -> str:
    return f"len(regexp_extract_all(lower(text), '{pat}', 0))"


# oracle patterns derive from the SAME marker table the Spark-side
# lang_id uses — editing LANG_MARKERS cannot silently diverge the gate
_M = {
    lang: r"\b(" + "|".join(words) + r")\b" for lang, words in LANG_MARKERS.items()
}


@query(
    "lang_confusion",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         {_marker_sql(_M['en'])} AS s_en, {_marker_sql(_M['es'])} AS s_es,
         {_marker_sql(_M['de'])} AS s_de, {_marker_sql(_M['fr'])} AS s_fr
  FROM documents
)
SELECT lang,
       CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       COUNT(*) AS n_docs
FROM scored
GROUP BY lang, lang_pred
ORDER BY lang, lang_pred
""",
)
def _lang_confusion(spark, sf_dir):
    """Language-metadata QA: the confusion matrix between each doc's
    DECLARED language tag and the engine's marker-based detector
    (`lang_id`) — off-diagonal mass is either mislabeled metadata or
    detector weakness, and either way it is the first corpus-QA table
    a multilingual pretraining run looks at.

    Plan: detection is scan-stage regexp codegen (zero shuffle), one
    counting agg on (lang, lang_pred); output bounded by the language
    cross-product. Counts are exact integers."""
    from ffi_etl_spark.functions.textstats import lang_id

    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


# ---------------------------------------------------------------------------
# declarative constraint audit (Deequ/dbt-test shape) over lineitem
# ---------------------------------------------------------------------------

@query(
    "constraint_audit",
    oracle="""
WITH n AS (SELECT COUNT(*) AS n_checked FROM lineitem)
SELECT r.rule, n.n_checked, r.n_violations FROM n CROSS JOIN (
  SELECT 'discount_cap' AS rule,
         COUNT(*) FILTER (NOT coalesce(l_discount <= 0.08, FALSE)) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'extendedprice_unique',
         COUNT(l_extendedprice) - COUNT(DISTINCT l_extendedprice)
  FROM lineitem
  UNION ALL
  SELECT 'linenumber_not_null', COUNT(*) FILTER (l_linenumber IS NULL)
  FROM lineitem
  UNION ALL
  SELECT 'linestatus_format', COUNT(*) FILTER (
    l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$'))
  FROM lineitem
  UNION ALL
  SELECT 'orderkey_fk', COUNT(*) FILTER (
    l_orderkey IS NOT NULL AND l_orderkey NOT IN (
      SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))
  FROM lineitem
  UNION ALL
  SELECT 'quantity_range', COUNT(*) FILTER (
    l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1 AND 49)
  FROM lineitem
  UNION ALL
  SELECT 'returnflag_accepted', COUNT(*) FILTER (
    l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R'))
  FROM lineitem
) r
ORDER BY r.rule
""",
)
def _constraint_audit(spark, sf_dir):
    """Declarative data-quality suite over lineitem — the Deequ/dbt-test
    shape: seven expectations (uniqueness, null, referential, accepted
    values, range, regex, arbitrary predicate) compiled by
    `operators/constraints.py::check_constraints` into ONE aggregation
    over ONE scan (the fk parent key set broadcast-joins onto the same
    pass) — never one job per rule. The mixed result (discount_cap,
    quantity_range, and extendedprice_unique genuinely fire on TPC-H
    data; the rest are clean) is what a pipeline gate consumes."""
    from ffi_etl_spark.operators.constraints import Rule, check_constraints

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    rules = [
        Rule("discount_cap", "predicate", expr="l_discount <= 0.08"),
        Rule("extendedprice_unique", "unique", col="l_extendedprice"),
        Rule("linenumber_not_null", "not_null", col="l_linenumber"),
        Rule("linestatus_format", "regex", col="l_linestatus", pattern="^[OF]$"),
        Rule("orderkey_fk", "fk", col="l_orderkey", parent=o, parent_key="o_orderkey"),
        Rule("quantity_range", "range", col="l_quantity", lo=1, hi=49),
        Rule("returnflag_accepted", "in_set", col="l_returnflag",
             values=("A", "N", "R")),
    ]
    return check_constraints(li, rules)


# ---------------------------------------------------------------------------
# train/val/test split leakage audit (cross-split n-gram contamination)
# ---------------------------------------------------------------------------

@query(
    "split_leakage_audit",
    oracle=r"""
WITH toked AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 8
              THEN 'val' ELSE 'test' END AS split,
         string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
  FROM documents
), grams AS (
  SELECT DISTINCT split, doc_id,
         unnest([
           ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 7, 1))
         ]) AS g
  FROM toked
), train_g AS (
  SELECT DISTINCT g FROM grams WHERE split = 'train'
), per_doc AS (
  SELECT e.split, e.doc_id, COUNT(*) AS n_g, COUNT(t.g) AS n_shared
  FROM grams e LEFT JOIN train_g t USING (g)
  WHERE e.split <> 'train'
  GROUP BY e.split, e.doc_id
)
SELECT split, COUNT(*) AS n_docs,
       COUNT(*) FILTER (n_shared > 0) AS n_leaky_docs,
       CAST(SUM(n_g) AS BIGINT) AS n_grams,
       CAST(SUM(n_shared) AS BIGINT) AS n_shared_grams
FROM per_doc GROUP BY split ORDER BY split
""",
)
def _split_leakage_audit(spark, sf_dir):
    """Own-split contamination check: after the md5-mod 8/1/1
    train/val/test assignment (`train_val_test_split`'s exact rule),
    count val/test documents sharing any token 8-gram with the TRAIN
    split — the eval-integrity audit that `decontaminate` (external
    benchmarks) doesn't cover: a val doc whose spans sit in train
    inflates eval scores even if both copies survived dedup.

    Plan: one explode → distinct (split, doc, gram-hash); the train
    gram set is gram-keyed and the leak probe is a co-partitioned
    LEFT join on the same key (AQE reuses the partitioning — no
    broadcast of a corpus-sized gram set); two bounded aggs after.
    Counts are exact integers; the gram hash is the shared 60-bit md5
    (`dup_span_profile`'s parity idiom)."""
    from ffi_etl_spark.functions.hashing import md5_int60, word_ngrams

    docs = table(spark, sf_dir, "documents")
    bucket = md5_int32(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    grams = (
        docs.select(
            split.alias("split"),
            "doc_id",
            # coalesce keeps a NULL-text doc as one ""-gram row on BOTH
            # engines (word_ngrams over raw NULL would yield "" here
            # while the SQL side's md5(NULL) never joins — review find)
            F.explode(
                word_ngrams(F.coalesce(F.col("text"), F.lit("")), 8)
            ).alias("gram"),
        )
        .select("split", "doc_id", md5_int60(F.col("gram")).alias("g"))
        .distinct()
    )
    train_g = (
        grams.where(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    per_doc = (
        grams.where(F.col("split") != "train")
        .join(train_g, "g", "left")
        .groupBy("split", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.count(F.col("hit")).alias("n_shared"),
        )
    )
    return (
        per_doc.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("n_shared") > 0).alias("n_leaky_docs"),
            F.sum("n_g").alias("n_grams"),
            F.sum("n_shared").alias("n_shared_grams"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# one-pass exact-integer feature correlation matrix
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _cents_sql(c: str) -> str:
    return f"CAST(round({c} * 100) AS BIGINT)"


def _corr_pair_sql(x: str, y: str) -> str:
    vx = f"(n * s_{x}{x} - s_{x} * s_{x})"
    vy = f"(n * s_{y}{y} - s_{y} * s_{y})"
    return f"""
  SELECT '{_CORR_COLS[ord(x) - ord('a')]}' AS col_x,
         '{_CORR_COLS[ord(y) - ord('a')]}' AS col_y,
         CAST(n AS BIGINT) AS n_rows,
         CASE WHEN {vx} > 0 AND {vy} > 0 THEN
           printf('%.6e', CAST(n * s_{x}{y} - s_{x} * s_{y} AS DOUBLE)
                          / (sqrt(CAST({vx} AS DOUBLE)) * sqrt(CAST({vy} AS DOUBLE))))
         END AS corr
  FROM sums"""


@query(
    "corr_matrix",
    oracle=f"""
WITH cents AS (
  SELECT {_cents_sql('l_quantity')} AS a, {_cents_sql('l_extendedprice')} AS b,
         {_cents_sql('l_discount')} AS c, {_cents_sql('l_tax')} AS d
  FROM lineitem
), sums AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM(a::HUGEINT) AS s_a, SUM(b::HUGEINT) AS s_b,
         SUM(c::HUGEINT) AS s_c, SUM(d::HUGEINT) AS s_d,
         SUM(a::HUGEINT * a) AS s_aa, SUM(b::HUGEINT * b) AS s_bb,
         SUM(c::HUGEINT * c) AS s_cc, SUM(d::HUGEINT * d) AS s_dd,
         SUM(a::HUGEINT * b) AS s_ab, SUM(a::HUGEINT * c) AS s_ac,
         SUM(a::HUGEINT * d) AS s_ad, SUM(b::HUGEINT * c) AS s_bc,
         SUM(b::HUGEINT * d) AS s_bd, SUM(c::HUGEINT * d) AS s_cd
  FROM cents
)
{" UNION ALL ".join(_corr_pair_sql(x, y) for x, y in ("ab", "ac", "ad", "bc", "bd", "cd"))}
ORDER BY col_x, col_y
""",
)
def _corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over lineitem's four numeric
    columns in ONE scan + ONE reduce — the feature-correlation audit a
    feature store runs before model training. Where `stats_moments`
    exercises the built-in corr/covar aggregates, this computes all
    C(4,2) pairs from EXACT integer sums: values are re-encoded as
    integer cents (`round(x*100)` — exact for these 2-decimal columns,
    and correlation is scale-invariant), every moment is an int64/
    decimal(38) sum with no partition-order float accumulation, and
    the only float math is the final guarded divide — shipped %.6e per
    the stats_moments rule, NULL for zero-variance columns.

    Plan: one scan, one 15-column partial+final agg (1 row), 6 output
    rows exploded from it. At 100 TB the cents products still fit
    decimal(38) (~1e7-cent values² × 1e12 rows ≈ 1e26)."""
    li = table(spark, sf_dir, "lineitem")
    cents = {
        k: F.round(F.col(c) * 100).cast("long")
        for k, c in zip("abcd", _CORR_COLS)
    }
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda k: F.col(k).cast("decimal(19,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in "abcd":
        aggs.append(F.sum(d38(F.col(k))).alias(f"s_{k}"))
    for x, y in ("aa", "bb", "cc", "dd", "ab", "ac", "ad", "bc", "bd", "cd"):
        aggs.append(F.sum(d19(x) * d19(y)).alias(f"s_{x}{y}"))
    sums = li.select(*[v.alias(k) for k, v in cents.items()]).agg(*aggs)

    def pair(x, y):
        n = d38(F.col("n"))
        vx = n * d38(F.col(f"s_{x}{x}")) - d38(F.col(f"s_{x}")) * d38(F.col(f"s_{x}"))
        vy = n * d38(F.col(f"s_{y}{y}")) - d38(F.col(f"s_{y}")) * d38(F.col(f"s_{y}"))
        num = n * d38(F.col(f"s_{x}{y}")) - d38(F.col(f"s_{x}")) * d38(F.col(f"s_{y}"))
        return F.struct(
            F.lit(_CORR_COLS[ord(x) - ord("a")]).alias("col_x"),
            F.lit(_CORR_COLS[ord(y) - ord("a")]).alias("col_y"),
            F.col("n").alias("n_rows"),
            F.when(
                (vx > 0) & (vy > 0),
                F.format_string(
                    "%.6e",
                    num.cast("double")
                    / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                ),
            ).alias("corr"),
        )

    pairs = [pair(x, y) for x, y in ("ab", "ac", "ad", "bc", "bd", "cd")]
    return (
        sums.select(F.explode(F.array(*pairs)).alias("r"))
        .select("r.col_x", "r.col_y", "r.n_rows", "r.corr")
        .orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# curriculum mixture schedule: anneal alpha from natural to uniform
# ---------------------------------------------------------------------------

_CURRICULUM_SQL_THRESH = {
    # alpha = 0: keep everything (threshold 2^32 > any draw)
    0: "4294967296",
    # alpha = 1/4: sqrt(sqrt(r)) — two correctly-rounded sqrts, engine-equal
    1: "CAST(floor(sqrt(sqrt(CAST(mn.min_n AS DOUBLE) / c.n_total)) * 4294967296) AS BIGINT)",
    # alpha = 1/2: the mixture_temperature rule
    2: "CAST(floor(sqrt(CAST(mn.min_n AS DOUBLE) / c.n_total) * 4294967296) AS BIGINT)",
    # alpha = 1: uniform target
    3: "CAST(floor((CAST(mn.min_n AS DOUBLE) / c.n_total) * 4294967296) AS BIGINT)",
}

_ALPHA_LABEL = {0: "0", 1: "1/4", 2: "1/2", 3: "1"}


@query(
    "mixture_curriculum",
    oracle=f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
mn AS (SELECT MIN(n_total) AS min_n FROM counts),
kept AS (
  SELECT d.source,
{",".join(
  f'''         COUNT(*) FILTER (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           < {t}) AS k{e}''' for e, t in _CURRICULUM_SQL_THRESH.items())}
  FROM documents d JOIN counts c USING (source) CROSS JOIN mn
  GROUP BY d.source
)
{" UNION ALL ".join(
  f'''SELECT {e} AS epoch, '{_ALPHA_LABEL[e]}' AS alpha, c.source, c.n_total,
       COALESCE(k.k{e}, 0) AS n_kept
FROM counts c LEFT JOIN kept k USING (source)''' for e in range(4))}
ORDER BY epoch, source
""",
)
def _mixture_curriculum(spark, sf_dir):
    """Curriculum mixing schedule: anneal the mixture temperature
    across four training epochs — α = 0 (natural mixture), 1/4, 1/2,
    1 (uniform) — so early epochs see the data distribution and late
    epochs see balanced sources (the standard multilingual curriculum
    knob). Output is the per-(epoch, source) sampling plan a trainer's
    data loader executes with the same md5 draw.

    Cross-engine determinism: α is restricted to {{0, 1/4, 1/2, 1}} ON
    PURPOSE — those powers compute as compositions of IEEE
    correctly-rounded sqrt/divide (`sqrt(sqrt(r))`, `sqrt(r)`, `r`),
    so `floor(r^α·2^32)` is the same int64 on both engines, where an
    arbitrary `pow(x, 1/3)` is NOT correctly rounded across libms and
    could flip a draw at the threshold boundary (the
    mixture_temperature rule, extended to a schedule).

    Plan: K-row counts broadcast back over one corpus scan; the four
    epoch counters are count_ifs in ONE aggregate (the corpus is NOT
    exploded 4x), then 4·K output rows."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    mn = counts.agg(F.min("n_total").alias("min_n"))
    r = F.col("min_n").cast("double") / F.col("n_total")
    thresholds = {
        0: F.lit(4294967296),
        1: F.floor(F.sqrt(F.sqrt(r)) * F.lit(4294967296.0)).cast("long"),
        2: F.floor(F.sqrt(r) * F.lit(4294967296.0)).cast("long"),
        3: F.floor(r * F.lit(4294967296.0)).cast("long"),
    }
    draw = md5_int32(F.col("doc_id").cast("string"))
    kept = (
        d.join(F.broadcast(counts), "source")
        .join(F.broadcast(mn))
        .groupBy("source")
        .agg(*[F.count_if(draw < t).alias(f"k{e}") for e, t in thresholds.items()])
    )
    rows = [
        F.struct(
            F.lit(e).alias("epoch"),
            F.lit(_ALPHA_LABEL[e]).alias("alpha"),
            F.col("source").alias("source"),
            F.col("n_total").alias("n_total"),
            F.coalesce(F.col(f"k{e}"), F.lit(0)).alias("n_kept"),
        )
        for e in range(4)
    ]
    return (
        counts.join(kept, "source", "left")
        .select(F.explode(F.array(*rows)).alias("r"))
        .select("r.epoch", "r.alpha", "r.source", "r.n_total", "r.n_kept")
        .orderBy("epoch", "source")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic near-duplicates
# ---------------------------------------------------------------------------

_SEMDEDUP_K, _SEMDEDUP_ROUNDS = 8, 3


def _dedup_semantic_oracle() -> str:
    cos = "list_dot_product(a.v, b.v) / (a.vn * b.vn)"
    return f"""
WITH {kmeans_det_cte(_SEMDEDUP_K, _SEMDEDUP_ROUNDS)},
fin AS (
  SELECT vec_id, v, centroid_id, sqrt(list_dot_product(v, v)) AS vn
  FROM a{_SEMDEDUP_ROUNDS}
)
SELECT a.centroid_id, a.vec_id AS id_a, b.vec_id AS id_b,
       {jround(cos, 6)} AS cosine_sim
FROM fin a JOIN fin b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE a.vn > 0 AND b.vn > 0 AND {cos} >= 0.15
ORDER BY id_a, id_b
"""


@query("dedup_semantic", oracle=_dedup_semantic_oracle())
def _dedup_semantic(spark, sf_dir):
    """operators/similarity.py::dedup_semantic over embeddings — the
    SemDeDup tier beside the LSH-bucketed `dedup_embedding`: learned
    (k-means) buckets instead of random hyperplanes, pairs compared
    only within a cluster (min_sim matches the dedup_embedding tier's
    0.15 floor — this synthetic corpus has no high-cosine pairs).
    Upgraded rows-only → full oracle (VERDICT r04 recipe b): the gated
    form runs the integer-centroid deterministic k-means mode
    (``quantize_bits=20``), so clustering AND the exact cosine verify
    are bit-stable and the whole pipeline unrolls into one CTE chain.
    k is pinned at 8 — the documented adaptive knob
    (``max(8, n // 500)``) resolves to 8 at every testdata SF, and a
    static oracle needs a static k; callers tuning for corpus scale
    pass their own k to the operator. The float-mean mode keeps the
    test_round4b.py subset/recall differentials."""
    from ffi_etl_spark.operators.similarity import dedup_semantic

    emb = table(spark, sf_dir, "embeddings")
    return dedup_semantic(
        emb, k=_SEMDEDUP_K, n_iter=_SEMDEDUP_ROUNDS, min_sim=0.15, quantize_bits=20
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# corpus-trained bigram-LM document fluency (perplexity-filter shape)
# ---------------------------------------------------------------------------

@query(
    "doc_lm_fluency",
    oracle=r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS toks
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest([
           array_to_string(toks[i:i+1], ' ')
           for i in generate_series(1, greatest(len(toks) - 1, 1))
         ]) AS gram
  FROM toked
), cb AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY gram
), cpre AS (
  SELECT split_part(gram, ' ', 1) AS pfx, CAST(SUM(c) AS BIGINT) AS cp
  FROM cb GROUP BY pfx
), per AS (
  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         SUM(ln(cb.c) - ln(cpre.cp)) AS s
  FROM bg b JOIN cb USING (gram)
  JOIN cpre ON split_part(b.gram, ' ', 1) = cpre.pfx
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, printf('%.6e', s / n_bigrams) AS avg_logp
FROM per
""",
)
def _doc_lm_fluency(spark, sf_dir):
    """Corpus-trained bigram language-model fluency per document — the
    shape of a KenLM/CCNet perplexity filter with the corpus itself as
    the LM: score = mean log p(token | previous token) where p(b|a) =
    c(a b) / c(a ·) from whole-corpus bigram counts. Low (very
    negative) scores mark incoherent token sequences; scores near 0
    mark fully templated text — both tails are what a quality gate
    samples for review. Complements `lm_transition_anomaly` (the same
    idea over event streams) and the `ccnet_quality_tiers` bucketing
    (which can consume this score instead of the stopword proxy).

    Parity: the score is a partition-order-accumulated transcendental
    sum → leaves as a %.6e string per the stats_moments rule (each
    ln-difference term carries ≤2 ulp absolute error; the band has
    eight orders of headroom). Deterministic-probability bigrams
    (c == c_prefix) contribute exactly 0.0 on both engines — same ln
    argument, so the difference cancels bit-exactly.

    Plan: one bigram explode → gram-keyed count agg; the prefix agg
    reduces the COUNTS table (distinct grams), not the corpus; the
    probability join back is gram-keyed and co-partitioned with the
    count agg; one doc-keyed agg out. Two shuffles of gram-sized data,
    zero corpus broadcasts."""
    from ffi_etl_spark.functions.hashing import word_ngrams

    d = table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        F.explode(
            word_ngrams(F.lower(F.coalesce(F.col("text"), F.lit(""))), 2)
        ).alias("gram"),
    )
    cb = bg.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    cpre = (
        cb.withColumn("pfx", F.split(F.col("gram"), " ").getItem(0))
        .groupBy("pfx")
        .agg(F.sum("c").alias("cp"))
    )
    return (
        bg.join(cb, "gram")
        .withColumn("pfx", F.split(F.col("gram"), " ").getItem(0))
        .join(cpre, "pfx")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.log(F.col("c")) - F.log(F.col("cp"))).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.format_string("%.6e", F.col("s") / F.col("n_bigrams")).alias(
                "avg_logp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# l-diversity audit (beside k_anonymity_audit)
# ---------------------------------------------------------------------------

@query(
    "l_diversity_audit",
    oracle="""
WITH joined AS (
  SELECT c.c_mktsegment, c.c_nationkey, o.o_orderpriority
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive,
       CAST(COUNT(DISTINCT o_orderpriority) >= 3 AS INT) AS l_diverse
FROM joined
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
""",
)
def _l_diversity_audit(spark, sf_dir):
    """l-diversity audit, the companion gate to `k_anonymity_audit`:
    a QI group can be large enough for k-anonymity and still leak —
    if every member shares one sensitive value, group membership
    reveals it. Here: (segment × nationality) groups whose orders
    carry fewer than l=3 distinct priorities (the sensitive
    attribute) are flagged ``l_diverse = 0`` — the homogeneous groups
    an l-diverse release must generalize. Output is the full per-group
    diversity report (the suppression list is its l_diverse=0 filter;
    on this synthetic data every group carries all 5 priorities, so
    the report form keeps the gate non-degenerate).

    Plan: one fact join (customer side broadcastable), one QI-keyed
    aggregate with a distinct count; output bounded by QI
    cardinality. Counts are exact integers."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderpriority").alias("n_sensitive"),
        )
        .withColumn("l_diverse", (F.col("n_sensitive") >= 3).cast("int"))
        .orderBy("c_mktsegment", "c_nationkey")
    )


# ---------------------------------------------------------------------------
# shuffle-free join-cardinality + skew probe (plan before you join)
# ---------------------------------------------------------------------------

@query(
    "join_cardinality_probe",
    oracle="""
WITH a AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS na
  FROM lineitem GROUP BY k
), b AS (
  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
  FROM orders GROUP BY k
), prod AS (
  SELECT a.k, na * nb AS pairs FROM a JOIN b USING (k)
)
SELECT CAST(SUM(pairs) AS BIGINT) AS est_join_rows,
       CAST(COUNT(*) AS BIGINT) AS n_join_keys,
       CAST(MAX(pairs) AS BIGINT) AS max_key_pairs,
       CAST((SELECT COUNT(*) FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey) AS BIGINT) AS actual_join_rows
FROM prod
""",
)
def _join_cardinality_probe(spark, sf_dir):
    """Plan-before-you-join sizing: the EXACT cardinality of an
    equi-join is Σ_k count_a(k)·count_b(k) — computable from two
    per-key COUNT aggregates WITHOUT materializing the join. At 100 TB
    this is how a pipeline decides broadcast vs shuffle vs salt BEFORE
    paying for the join: `est_join_rows` sizes the output,
    `max_key_pairs` is the skew bomb (one key's share of the work —
    feed it to `salted_join` when it dwarfs the mean). The query also
    runs the real join once (test-scale only) to pin est == actual as
    a live identity; production drops the actual column.

    Plan: two per-key count aggs (map-side combined), a key join of
    the COUNT TABLES (key-cardinality-sized, not row-sized), one-row
    output. The verification join is the only row-sized work."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("na"))
    b = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("nb"))
    prod = a.join(b, "k").select("k", (F.col("na") * F.col("nb")).alias("pairs"))
    actual = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .agg(F.count(F.lit(1)).alias("actual_join_rows"))
    )
    return (
        prod.agg(
            F.sum("pairs").alias("est_join_rows"),
            F.count(F.lit(1)).alias("n_join_keys"),
            F.max("pairs").alias("max_key_pairs"),
        )
        .join(F.broadcast(actual))
        .select("est_join_rows", "n_join_keys", "max_key_pairs", "actual_join_rows")
    )
