"""Model-evaluation, statistical-testing and forecasting queries
(split out of round5b.py — VERDICT r07 item 8; contents are a pure
mechanical move, zero semantic change).

Tree-ensemble scoring rides the shared ``_scored_cte`` / ``DEMO_TREES``
spec (operators/inference.py) so every evaluation metric is computed
over a differentially-pinned scored frame; the statistical tests and
trend fits are exact integer-moment programs per the standing
oracle-parity rules (TODO.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import CONFUSION_REPORT_SQL
from ffi_etl_spark.operators.inference import DEMO_TREES as _TREES

# ---------------------------------------------------------------------------
# shared: the scored-events CTE both oracles start from
# ---------------------------------------------------------------------------


def _scored_cte() -> str:
    from ffi_etl_spark.operators.inference import ensemble_to_sql

    margin, predicted = ensemble_to_sql(_TREES, threshold=0.0)
    return f"""feats AS (
  SELECT event_id, value, CAST(event_id % 100 AS DOUBLE) AS idmod,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events
), scored AS (
  SELECT y, {margin} AS s, CAST({predicted} AS BIGINT) AS p FROM feats
)"""


def _scored_events(spark, sf_dir):
    from ffi_etl_spark.operators.inference import score_ensemble

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_id") % 100).cast("double").alias("idmod"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return score_ensemble(ev, _TREES, keep_cols=("label",))


def _report_oracle() -> str:
    return f"""
WITH {_scored_cte()}, {CONFUSION_REPORT_SQL}"""


@query("model_classification_report", oracle=_report_oracle())
def _model_classification_report(spark, sf_dir):
    """operators/inference.py::classification_report over the round-5
    tree-ensemble predictions with `is a purchase` as the label — the
    confusion-matrix evaluation completing the scoring/AUC family. All
    counts are BIGINTs from one (label, predicted) aggregate; each
    metric is a single correctly-rounded division (F1 from raw counts,
    not chained P/R), so the doubles hash bit-strictly."""
    from ffi_etl_spark.operators.inference import classification_report

    rep = classification_report(_scored_events(spark, sf_dir))
    return rep.select(
        F.col("class").alias("cls"),
        "tp",
        "fp",
        "fn",
        "support",
        F.col("precision").alias("prec"),
        "recall",
        "f1",
    )


# ---------------------------------------------------------------------------
# Naive Bayes: train + score in one relational plan
# ---------------------------------------------------------------------------


def _nb_oracle() -> str:
    from ffi_etl_spark.operators.features import NB_BUCKETS, NB_SCALE_BITS

    b, s = NB_BUCKETS, float(1 << NB_SCALE_BITS)
    return rf"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), db AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {b} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY doc_id, lang, bucket
), cb AS (
  SELECT lang AS cls, bucket, CAST(SUM(cnt) AS BIGINT) AS n_cb
  FROM db GROUP BY lang, bucket
), tot AS (
  SELECT cls, CAST(SUM(n_cb) AS BIGINT) AS total_c FROM cb GROUP BY cls
), model AS (
  SELECT cb.cls, cb.bucket,
         CAST(FLOOR({s!r} * ln(CAST(n_cb + 1 AS DOUBLE)
              / CAST(total_c + {b} AS DOUBLE))) AS BIGINT) AS q
  FROM cb JOIN tot ON tot.cls = cb.cls
), pri AS (
  SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS nd
  FROM documents WHERE text IS NOT NULL GROUP BY lang
), nall AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL
), consts AS (
  SELECT t.cls,
         CAST(FLOOR({s!r} * ln(1.0 / CAST(t.total_c + {b} AS DOUBLE)))
              AS BIGINT) AS q0,
         CAST(FLOOR({s!r} * ln(CAST(p.nd AS DOUBLE) / CAST(nall.n AS DOUBLE)))
              AS BIGINT) AS prior_q
  FROM tot t JOIN pri p ON p.cls = t.cls CROSS JOIN nall
), scored AS (
  SELECT db.doc_id, db.lang AS actual, c.cls, c.prior_q,
         c.prior_q + CAST(SUM(db.cnt * COALESCE(m.q, c.q0)) AS BIGINT)
           AS score_q
  FROM db CROSS JOIN consts c
  LEFT JOIN model m ON m.cls = c.cls AND m.bucket = db.bucket
  GROUP BY db.doc_id, db.lang, c.cls, c.prior_q
), ranked AS (
  SELECT doc_id, actual, cls, score_q,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, cls DESC) AS rn
  FROM scored
)
SELECT doc_id AS id, actual, cls AS predicted, score_q,
       CAST(cls = actual AS INT) AS correct
FROM ranked WHERE rn = 1
"""


@query("nb_lang_train_score", oracle=_nb_oracle())
def _nb_lang_train_score(spark, sf_dir):
    """operators/features.py::nb_train_score over documents with lang
    as the class — multinomial naive Bayes trained and scored in one
    relational plan (hashing-trick vocabulary, Laplace smoothing).
    Every ln is fixed-point-quantized at the leaf (the round-5
    transcendental rule), so per-doc class scores are exact integer
    sums and the argmax (ties to the larger class string) hashes
    bit-strictly. The oracle replays train AND score end-to-end.

    Expect majority-class predictions HERE: testdata text is
    lang-independent token soup, so the only learnable signal is the
    prior — that is a property of the synthetic corpus, not the
    operator (tests/test_model_eval.py plants a class-distinct
    vocabulary and the same operator scores it 100%)."""
    from ffi_etl_spark.operators.features import nb_train_score

    return nb_train_score(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Calibration bins over the tree-ensemble margin
# ---------------------------------------------------------------------------

_CAL_LO, _CAL_HI, _CAL_BINS = -1.0, 2.0, 12


def _calibration_oracle() -> str:
    width = (_CAL_HI - _CAL_LO) / _CAL_BINS
    return f"""
WITH {_scored_cte()}, binned AS (
  SELECT CAST(GREATEST(0, LEAST({_CAL_BINS - 1},
              FLOOR((s - ({_CAL_LO!r})) / {width!r}))) AS BIGINT) AS bin,
         s, y
  FROM scored
)
SELECT bin,
       {_CAL_LO!r} + CAST(bin AS DOUBLE) * {width!r} AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       SUM(s) / CAST(COUNT(*) AS DOUBLE) AS mean_score,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
FROM binned GROUP BY bin
"""


@query("model_calibration_bins", oracle=_calibration_oracle())
def _model_calibration_bins(spark, sf_dir):
    """operators/inference.py::calibration_bins over the tree-ensemble
    margin — reliability-diagram evaluation. Exactness argument: the
    margins are dyadic rationals (leaf outputs are multiples of 2^-4),
    so SUM(margin) is exact under any partition order and mean_score
    is one final division; the bin index is exact dyadic arithmetic
    (width 0.25). frac_pos is an integer ratio. Hence raw doubles in
    the gated output, hashed bit-strictly."""
    from ffi_etl_spark.operators.inference import calibration_bins

    return calibration_bins(
        _scored_events(spark, sf_dir),
        lo=_CAL_LO,
        hi=_CAL_HI,
        n_bins=_CAL_BINS,
    )


# ---------------------------------------------------------------------------
# Isotonic calibration of the reliability bins (closed-form PAVA)
# ---------------------------------------------------------------------------


def _isotonic_oracle() -> str:
    width = (_CAL_HI - _CAL_LO) / _CAL_BINS
    return f"""
WITH {_scored_cte()}, binned AS (
  SELECT CAST(GREATEST(0, LEAST({_CAL_BINS - 1},
              FLOOR((s - ({_CAL_LO!r})) / {width!r}))) AS BIGINT) AS bin,
         s, y
  FROM scored
), b AS (
  SELECT bin,
         {_CAL_LO!r} + CAST(bin AS DOUBLE) * {width!r} AS bin_lo,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(s) / CAST(COUNT(*) AS DOUBLE) AS mean_score,
         CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
  FROM binned GROUP BY bin
), cums AS (
  SELECT bin, CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS t,
         CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn
  FROM b
), bounds AS (
  SELECT t, cp, cn FROM cums
  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
), ivals AS (
  SELECT i0.t + 1 AS i, j.t AS j,
         CAST(j.cp - i0.cp AS DOUBLE) / CAST(j.cn - i0.cn AS DOUBLE) AS avg
  FROM cums j JOIN bounds i0 ON i0.t < j.t
), inner_min AS (
  SELECT ts.t, ivals.i, MIN(avg) AS m
  FROM ivals JOIN cums ts ON ivals.i <= ts.t AND ivals.j >= ts.t
  GROUP BY ts.t, ivals.i
), iso AS (
  SELECT t, MAX(m) AS iso_rate FROM inner_min GROUP BY t
)
SELECT b.bin, b.bin_lo, b.n, b.n_pos, b.mean_score, b.frac_pos, iso.iso_rate
FROM b JOIN cums ON cums.bin = b.bin JOIN iso ON iso.t = cums.t
"""


@query("model_isotonic_calibration", oracle=_isotonic_oracle())
def _model_isotonic_calibration(spark, sf_dir):
    """operators/inference.py::isotonic_calibrate over the reliability
    bins — PAVA computed in its closed minimax form (max over i≤t of
    min over j≥t of the interval positive rate): cumsum differences
    are exact integers, each interval average is one correctly-rounded
    division, and min/max merely SELECT among those doubles, so the
    monotone fit hashes bit-strictly. Quadratic in the bin count only;
    the corpus collapsed in calibration_bins."""
    from ffi_etl_spark.operators.inference import (
        calibration_bins,
        isotonic_calibrate,
    )

    bins = calibration_bins(
        _scored_events(spark, sf_dir), lo=_CAL_LO, hi=_CAL_HI, n_bins=_CAL_BINS
    )
    return isotonic_calibrate(bins)


# ---------------------------------------------------------------------------
# Time-series evaluation: seasonal-naive backtest + OLS daily trend
# ---------------------------------------------------------------------------

_WAPE_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), scored AS (
  SELECT a.event_type, a.d, a.y, f.y AS fc
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.d = a.d - INTERVAL 7 DAY
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(y - fc)) AS BIGINT) AS sum_abs_err,
       CAST(SUM(y) AS BIGINT) AS sum_actual,
       CAST(SUM(ABS(y - fc)) AS DOUBLE) / CAST(SUM(y) AS DOUBLE) AS wape
FROM scored GROUP BY event_type
"""


@query("forecast_backtest_wape", oracle=_WAPE_ORACLE)
def _forecast_backtest_wape(spark, sf_dir):
    """Seasonal-naive forecast backtest per event type: forecast(d) =
    actual(d−7), scored on every day with a week-ago predecessor, with
    WAPE = Σ|y−ŷ| / Σy — the sum-ratio form (NOT per-day MAPE means,
    which would accumulate floats): both sums are exact BIGINTs of
    daily counts, the metric one division, so raw doubles hash
    bit-strictly. The shape a forecasting pipeline runs to decide if a
    model beats the seasonal baseline — two K-row aggregates + one
    K-row self-join, corpus touched once."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    f = daily.select(
        F.col("event_type"),
        F.date_add(F.col("d"), 7).alias("d"),
        F.col("y").alias("fc"),
    )
    scored = daily.join(f, ["event_type", "d"])
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("y") - F.col("fc"))).cast("long").alias("sum_abs_err"),
        F.sum("y").cast("long").alias("sum_actual"),
        (
            F.sum(F.abs(F.col("y") - F.col("fc"))).cast("double")
            / F.sum("y").cast("double")
        ).alias("wape"),
    )


_OLS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE)
       END AS intercept
FROM s
"""


@query("daily_trend_ols", oracle=_OLS_ORACLE)
def _daily_trend_ols(spark, sf_dir):
    """Per-event-type OLS of daily volume against the epoch-day index:
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from EXACT integer moment
    sums (day index × count products stay far inside BIGINT), one
    division; the intercept re-derives through the same slope double
    with a fixed op sequence (sub, mul, div — all IEEE-correctly
    rounded), so both doubles are bit-identical cross-engine. NULL
    slope for a single-day series (degenerate denominator). The
    regression a monitoring pipeline fits to thousands of series at
    once — one K-row aggregate after the daily rollup."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / den.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "event_type",
        "n",
        F.when(den != 0, slope).alias("slope"),
        F.when(den != 0, intercept).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Statistical inference: Wilson proportion CIs + chi-square independence
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% two-sided


def _wilson_oracle() -> str:
    z = _WILSON_Z
    return f"""
WITH g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE value > 50.0) AS BIGINT) AS k
  FROM events GROUP BY event_type
), p AS (
  SELECT event_type, n, k,
         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
         {z!r} * {z!r} / CAST(n AS DOUBLE) AS zzn
  FROM g
)
SELECT event_type, n, k, phat,
       ((phat + zzn / 2.0)
        - {z!r} * sqrt((phat * (1.0 - phat) + zzn / 4.0) / CAST(n AS DOUBLE)))
       / (1.0 + zzn) AS wilson_lo,
       ((phat + zzn / 2.0)
        + {z!r} * sqrt((phat * (1.0 - phat) + zzn / 4.0) / CAST(n AS DOUBLE)))
       / (1.0 + zzn) AS wilson_hi
FROM p
"""


@query("conversion_wilson_ci", oracle=_wilson_oracle())
def _conversion_wilson_ci(spark, sf_dir):
    """Per-event-type proportion (share of value>50 events) with the
    95% Wilson score interval — the interval estimate an experiment
    readout needs (Wilson, not Wald: behaves at extreme p̂ and small
    n). Bit-exact cross-engine with NO flake budget: p̂ is one
    division of exact counts, and the bound formula is a fixed
    sequence of +,−,×,÷,sqrt — all IEEE-correctly-rounded basic ops
    (the more_like_this sqrt rule; nothing transcendental). One K-row
    aggregate over one scan."""
    z = _WILSON_Z
    g = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_if(F.col("value") > 50.0).cast("long").alias("k"),
        )
    )
    phat = F.col("k").cast("double") / F.col("n").cast("double")
    zzn = F.lit(z * z) / F.col("n").cast("double")
    rad = F.lit(z) * F.sqrt(
        (phat * (F.lit(1.0) - phat) + zzn / F.lit(4.0)) / F.col("n").cast("double")
    )
    center = phat + zzn / F.lit(2.0)
    denom = F.lit(1.0) + zzn
    return g.select(
        "event_type",
        "n",
        "k",
        phat.alias("phat"),
        ((center - rad) / denom).alias("wilson_lo"),
        ((center + rad) / denom).alias("wilson_hi"),
    )


_CHI2_BITS = 20


def _chi2_oracle() -> str:
    s = float(1 << _CHI2_BITS)
    return f"""
WITH cells AS (
  SELECT event_type AS r, CAST(value > 50.0 AS INT) AS c,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, CAST(value > 50.0 AS INT)
), margins AS (
  SELECT r, CAST(SUM(o) AS BIGINT) AS nr FROM cells GROUP BY r
), cmargins AS (
  SELECT c, CAST(SUM(o) AS BIGINT) AS nc FROM cells GROUP BY c
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
), terms AS (
  SELECT cells.r, cells.c,
         CAST(FLOOR({s!r} *
           (CAST((cells.o * tot.n - margins.nr * cmargins.nc) AS DOUBLE)
            * CAST((cells.o * tot.n - margins.nr * cmargins.nc) AS DOUBLE)
            / (CAST(tot.n AS DOUBLE) * CAST(margins.nr AS DOUBLE)
               * CAST(cmargins.nc AS DOUBLE)))) AS BIGINT) AS term_q
  FROM cells
  JOIN margins ON margins.r = cells.r
  JOIN cmargins ON cmargins.c = cells.c
  CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(term_q) AS BIGINT) AS chi2_q,
       CAST(SUM(term_q) AS DOUBLE) / {s!r} AS chi2
FROM terms
"""


@query("chi2_independence", oracle=_chi2_oracle())
def _chi2_independence(spark, sf_dir):
    """Chi-square independence test for event_type × (value>50) —
    ``Σ (O·N − r·c)² / (N·r·c)`` (the margins-multiplied form: every
    numerator an exact BIGINT). Each cell's term is a deterministic
    double (integer-exact operands, fixed op sequence) FIXED-POINT
    QUANTIZED before the sum (floor(2^20·term) — the transcendental-
    rule trick applied to an order-dependent float SUM), so the
    statistic is an exact integer plus one final exact power-of-two
    division. p-values need the chi² CDF (transcendental) — callers
    compare chi2 against critical-value literals instead. Two K-row
    aggregates over one scan."""
    s = float(1 << _CHI2_BITS)
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("r"),
            (F.col("value") > 50.0).cast("int").alias("c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    from pyspark import StorageLevel

    cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    margins = cells.groupBy("r").agg(F.sum("o").cast("long").alias("nr"))
    cmargins = cells.groupBy("c").agg(F.sum("o").cast("long").alias("nc"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    num = F.col("o") * F.col("n") - F.col("nr") * F.col("nc")
    term = (
        num.cast("double")
        * num.cast("double")
        / (
            F.col("n").cast("double")
            * F.col("nr").cast("double")
            * F.col("nc").cast("double")
        )
    )
    terms = (
        cells.join(F.broadcast(margins), "r")
        .join(F.broadcast(cmargins), "c")
        .crossJoin(F.broadcast(tot))
        .select(F.floor(F.lit(s) * term).cast("long").alias("term_q"))
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("term_q").cast("long").alias("chi2_q"),
        (F.sum("term_q").cast("double") / F.lit(s)).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# k-fold cross-validated AUC (per-segment model evaluation)
# ---------------------------------------------------------------------------

_CV_FOLDS = 5


def _cv_auc_oracle() -> str:
    from ffi_etl_spark.operators.inference import ensemble_to_sql

    margin, _ = ensemble_to_sql(_TREES, threshold=0.0)
    return f"""
WITH feats AS (
  SELECT event_id, value, CAST(event_id % 100 AS DOUBLE) AS idmod,
         (event_type = 'purchase') AS label,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % {_CV_FOLDS} AS fold
  FROM events
), scored AS (
  SELECT fold, {margin} AS s, label FROM feats
), per_score AS (
  SELECT fold, s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS np
  FROM scored GROUP BY fold, s
), ranked AS (
  SELECT fold, s, n, np,
         COALESCE(SUM(n) OVER (PARTITION BY fold ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM per_score
), agg AS (
  SELECT fold, CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg,
         CAST(SUM(np * (2 * c + n + 1)) AS BIGINT) AS u2
  FROM ranked GROUP BY fold
)
SELECT fold, n_pos, n_neg, u2,
       CAST(u2 - n_pos * (n_pos + 1) AS DOUBLE)
         / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) AS auc
FROM agg
"""


@query("cv_auc_folds", oracle=_cv_auc_oracle())
def _cv_auc_folds(spark, sf_dir):
    """operators/inference.py::auc_exact(group_cols=("fold",)) — the
    k-fold evaluation shape: deterministic md5 folds (the
    train/val/test-split idiom), the same integer Mann-Whitney
    pipeline per fold (score aggregate, cumulative window, and final
    reduce all keyed by fold), one division per fold at the end. The
    spread across folds is the variance estimate an experiment readout
    quotes next to the point AUC."""
    from ffi_etl_spark.functions.hashing import md5_int32
    from ffi_etl_spark.operators.inference import auc_exact, score_ensemble

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_id") % 100).cast("double").alias("idmod"),
        (F.col("event_type") == "purchase").alias("label"),
        (md5_int32(F.col("event_id").cast("string")) % _CV_FOLDS).alias("fold"),
    )
    scored = score_ensemble(ev, _TREES, keep_cols=("label", "fold"))
    return auc_exact(scored, group_cols=("fold",))


# ---------------------------------------------------------------------------
# Feature drift: Population Stability Index between time halves
# ---------------------------------------------------------------------------

_PSI_BINS, _PSI_BITS = 10, 20


def _psi_oracle() -> str:
    s = float(1 << _PSI_BITS)
    return f"""
WITH spanb AS (
  SELECT (CAST(epoch_us(MIN(ts)) AS BIGINT)
          + CAST(epoch_us(MAX(ts)) AS BIGINT)) // 2 AS half_us
  FROM events
), tagged AS (
  SELECT CAST(LEAST({_PSI_BINS - 1},
              GREATEST(0, FLOOR(value / 10.0))) AS BIGINT) AS bin,
         CAST(CAST(epoch_us(e.ts) AS BIGINT) <= b.half_us AS INT) AS is_ref
  FROM events e CROSS JOIN spanb b
), cells AS (
  SELECT bin,
         CAST(SUM(is_ref) AS BIGINT) AS n_ref,
         CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
  FROM tagged GROUP BY bin
), tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM cells
), terms AS (
  SELECT bin, n_ref, n_cur,
         CAST(FLOOR({s!r} *
           ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + {_PSI_BINS} * 0.5)
            - (CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + {_PSI_BINS} * 0.5))
           * ln(((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + {_PSI_BINS} * 0.5))
                / ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + {_PSI_BINS} * 0.5))))
           AS BIGINT) AS term_q
  FROM cells CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(term_q) AS BIGINT) AS psi_q,
       CAST(SUM(term_q) AS DOUBLE) / {s!r} AS psi,
       CAST(CAST(SUM(term_q) AS DOUBLE) / {s!r} >= 0.2 AS INT) AS drift_flag
FROM terms
"""


@query("feature_drift_psi", oracle=_psi_oracle())
def _feature_drift_psi(spark, sf_dir):
    """Population Stability Index of the value distribution between
    the first and second time halves — THE production drift metric a
    feature store monitors per column. Each bin's
    ``(p−q)·ln(p/q)`` term (Laplace-smoothed proportions so empty
    bins stay finite) is FIXED-POINT QUANTIZED before the sum (the
    transcendental rule — ln is per-term, never accumulated raw), so
    the statistic is an exact integer plus one power-of-two division;
    drift_flag pins the standard 0.2 threshold as an integer decision.
    One scan, one K-bin aggregate, 1-row time-span broadcast."""
    s = float(1 << _PSI_BITS)
    ev = table(spark, sf_dir, "events")
    # midpoint in exact epoch MICROSECONDS (integer floor-div) — naive
    # timestamp-interval halving rounds differently across engines
    span = ev.agg(
        (
            (
                F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))
            )
            / 2
        )
        .cast("long")
        .alias("half_us")
    )
    tagged = ev.crossJoin(F.broadcast(span)).select(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / 10.0)),
        )
        .cast("long")
        .alias("bin"),
        (F.unix_micros(F.col("ts")) <= F.col("half_us")).cast("int").alias("is_ref"),
    )
    cells = tagged.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    from pyspark import StorageLevel

    cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    tot = cells.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
    )
    p = (F.col("n_ref").cast("double") + F.lit(0.5)) / (
        F.col("tr").cast("double") + F.lit(_PSI_BINS * 0.5)
    )
    q = (F.col("n_cur").cast("double") + F.lit(0.5)) / (
        F.col("tc").cast("double") + F.lit(_PSI_BINS * 0.5)
    )
    term_q = F.floor(F.lit(s) * (p - q) * F.log(p / q)).cast("long")
    terms = cells.crossJoin(F.broadcast(tot)).select(term_q.alias("term_q"))
    psi = F.sum("term_q").cast("double") / F.lit(s)
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("term_q").cast("long").alias("psi_q"),
        psi.alias("psi"),
        (psi >= F.lit(0.2)).cast("int").alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# In-database model TRAINING: optimal decision stump by Gini
# ---------------------------------------------------------------------------

_STUMP_ORACLE = """
WITH binned AS (
  SELECT CAST(LEAST(99, GREATEST(0, FLOOR(value))) AS BIGINT) AS bin,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events
), cells AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM binned GROUP BY bin
), cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
         CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS posl
  FROM cells
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt FROM cells
), cand AS (
  SELECT bin, nl, posl, nt - nl AS nr, pt - posl AS posr,
         (CAST(nl AS DOUBLE)
          - (CAST(posl * posl AS DOUBLE) + CAST((nl - posl) * (nl - posl) AS DOUBLE))
            / CAST(nl AS DOUBLE))
         + (CAST(nt - nl AS DOUBLE)
            - (CAST((pt - posl) * (pt - posl) AS DOUBLE)
               + CAST(((nt - nl) - (pt - posl)) * ((nt - nl) - (pt - posl)) AS DOUBLE))
              / CAST(nt - nl AS DOUBLE)) AS gini_cost,
         nt, pt
  FROM cum CROSS JOIN tot
  WHERE nl > 0 AND nt - nl > 0
), best AS (
  SELECT * FROM cand ORDER BY gini_cost, bin LIMIT 1
)
SELECT bin AS threshold_bin, nl AS n_left, posl AS pos_left,
       nr AS n_right, posr AS pos_right, gini_cost,
       CAST(GREATEST(posl, nl - posl) + GREATEST(posr, nr - posr) AS DOUBLE)
         / CAST(nt AS DOUBLE) AS stump_acc
FROM best
"""


@query("train_decision_stump", oracle=_STUMP_ORACLE)
def _train_decision_stump(spark, sf_dir):
    """In-database model TRAINING beside the inference family: the
    optimal 1-split decision stump on value predicting `is a
    purchase`, by exhaustive Gini scan over the 100 integer bin
    thresholds. All split statistics are cumulative-window BIGINTs;
    each candidate's Gini cost is a fixed op sequence over exact
    integers (deterministic double, no accumulation), and the argmin
    ties to the smaller threshold — so even the TRAINED MODEL is
    bit-identical cross-engine. The trained stump is exactly a
    ``DEMO_TREES``-style dict — score it with ``score_ensemble``.
    Shape: one scan, one 100-row aggregate, K-row window + argmin.
    The training body lives in ``operators/inference.py::
    train_decision_stump`` (extracted for reuse, VERDICT r05 item 4);
    this query supplies the events binning + label."""
    from ffi_etl_spark.operators.inference import train_decision_stump

    binned = table(spark, sf_dir, "events").select(
        F.least(F.lit(99), F.greatest(F.lit(0), F.floor(F.col("value"))))
        .cast("long")
        .alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return train_decision_stump(binned)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov (fully exact — no quantization)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH spanb AS (
  SELECT (CAST(epoch_us(MIN(ts)) AS BIGINT)
          + CAST(epoch_us(MAX(ts)) AS BIGINT)) // 2 AS half_us
  FROM events
), tagged AS (
  SELECT value, CAST(CAST(epoch_us(e.ts) AS BIGINT) <= b.half_us AS INT) AS s1
  FROM events e CROSS JOIN spanb b
), per_value AS (
  SELECT value, CAST(SUM(s1) AS BIGINT) AS c1, CAST(SUM(1 - s1) AS BIGINT) AS c2
  FROM tagged GROUP BY value
), cum AS (
  SELECT value,
         CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS f2
  FROM per_value
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM per_value
), d AS (
  SELECT MAX(ABS(f1 * n2 - f2 * n1)) AS d_q FROM cum CROSS JOIN tot
)
SELECT n1, n2, d_q,
       CAST(d_q AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d
FROM d CROSS JOIN tot
"""


@query("ks_two_sample", oracle=_KS_ORACLE)
def _ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between the value distributions
    of the first and second time halves — the FULLY EXACT member of
    the drift toolkit (beside quantized PSI/chi²): the CDF gap at
    every distinct value is the integer ``|F1·n2 − F2·n1|``, the
    statistic is an integer MAX, and D is ONE division at the very
    end. No quantization, no flake budget anywhere. Shape: one scan,
    one distinct-value aggregate, a K-row cumulative window over the
    post-aggregate value table, 1-row reduce."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("half_us")
    )
    tagged = ev.crossJoin(F.broadcast(span)).select(
        "value",
        (F.unix_micros(F.col("ts")) <= F.col("half_us")).cast("int").alias("s1"),
    )
    per_value = tagged.groupBy("value").agg(
        F.sum("s1").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("s1")).cast("long").alias("c2"),
    )
    from pyspark import StorageLevel

    per_value = per_value.persist(StorageLevel.MEMORY_AND_DISK)
    w = Window.orderBy("value")
    cum = per_value.select(
        F.sum("c1").over(w).cast("long").alias("f1"),
        F.sum("c2").over(w).cast("long").alias("f2"),
    )
    tot = per_value.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        ).alias("d_q")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "d_q",
        (F.col("d_q").cast("double") / (F.col("n1") * F.col("n2")).cast("double"))
        .alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# A/B assignment + sample-ratio-mismatch check; conversion-time quantiles
# ---------------------------------------------------------------------------

_SRM_ORACLE = """
WITH assigned AS (
  SELECT DISTINCT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
  FROM events
), counts AS (
  SELECT CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
  FROM assigned
)
SELECT n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
         / CAST(n_a + n_b AS DOUBLE) AS srm_stat,
       CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
            / CAST(n_a + n_b AS DOUBLE) > 3.841 AS INT) AS srm_flag
FROM counts
"""


@query("ab_srm_check", oracle=_SRM_ORACLE)
def _ab_srm_check(spark, sf_dir):
    """Experiment-hygiene check every A/B readout runs FIRST: md5
    coin-flip assignment of users to arms, then the sample-ratio-
    mismatch statistic ``(n_A−n_B)²/(n_A+n_B)`` (the 1-df chi-square
    against a 50/50 split, algebraically simplified to ONE division
    of exact integers — no quantization needed) flagged at the 95%
    critical value 3.841. An SRM flag means the assignment or logging
    is broken and every downstream metric is suspect. One distinct
    aggregate, 1-row output."""
    assigned = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
                ).cast("long")
                % 2
            ).alias("arm")
        )
    )
    counts = assigned.agg(
        F.count_if(F.col("arm") == 0).cast("long").alias("n_a"),
        F.count_if(F.col("arm") == 1).cast("long").alias("n_b"),
    )
    stat = ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
        "double"
    ) / (F.col("n_a") + F.col("n_b")).cast("double")
    return counts.select(
        "n_a",
        "n_b",
        stat.alias("srm_stat"),
        (stat > F.lit(3.841)).cast("int").alias("srm_flag"),
    )


_CTQ_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type IN ('view', 'purchase')
), marked AS (
  SELECT event_id, event_type, us,
         MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS next_purchase_us
  FROM ev
), gaps AS (
  SELECT next_purchase_us - us AS gap_us FROM marked
  WHERE event_type = 'view' AND next_purchase_us IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_views,
       quantile_cont(gap_us, 0.50) AS p50_gap_us,
       quantile_cont(gap_us, 0.90) AS p90_gap_us,
       quantile_cont(gap_us, 0.99) AS p99_gap_us
FROM gaps
"""


@query("conversion_time_quantiles", oracle=_CTQ_ORACLE)
def _conversion_time_quantiles(spark, sf_dir):
    """Latency profile of the view→purchase conversion: p50/p90/p99 of
    the forward-as-of gap over converting views — the number a growth
    team reads beside the funnel rate. Built on the
    asof_forward_next_purchase machinery; quantiles via the bit-equal
    F.percentile ≡ quantile_cont pair (TODO.md standing rule), gaps as
    exact epoch-µs integers."""
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
    nxt = F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).over(w)
    gaps = (
        ev.withColumn("npu", nxt)
        .where((F.col("event_type") == "view") & F.col("npu").isNotNull())
        .select((F.col("npu") - F.col("us")).alias("gap_us"))
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_converting_views"),
        F.percentile(F.col("gap_us"), F.lit(0.50)).alias("p50_gap_us"),
        F.percentile(F.col("gap_us"), F.lit(0.90)).alias("p90_gap_us"),
        F.percentile(F.col("gap_us"), F.lit(0.99)).alias("p99_gap_us"),
    )


# ---------------------------------------------------------------------------
# Rolling OLS trend + day-of-week seasonal index
# ---------------------------------------------------------------------------

_ROLL_OLS_DAYS = 14

_ROLL_OLS_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), win AS (
  SELECT event_type, x, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               RANGE BETWEEN {_ROLL_OLS_DAYS - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, x AS day_idx, y, n,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope_14d
FROM win
"""


@query("rolling_ols_trend", oracle=_ROLL_OLS_ORACLE)
def _rolling_ols_trend(spark, sf_dir):
    """Per-day TRAILING-14-day OLS slope of daily volume per event
    type — the rolling model fit a monitoring dashboard plots (is the
    series accelerating TODAY?), beside daily_trend_ols' whole-series
    fit. Every window aggregate is an exact integer moment sum over a
    RANGE frame keyed on the integer day index; the slope is one
    division per row; single-day windows yield NULL (degenerate
    denominator). One K-row-per-type window after the daily rollup —
    the time-keyed frame idiom of window_trailing_30d."""
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rangeBetween(-(_ROLL_OLS_DAYS - 1), Window.currentRow)
    )
    win = daily.select(
        "event_type",
        F.col("x").alias("day_idx"),
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / den.cast("double")
    return win.select(
        "event_type",
        "day_idx",
        "y",
        "n",
        F.when(den != 0, slope).alias("slope_14d"),
    )


_DOW_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), dow AS (
  SELECT event_type, CAST(isodow(d) AS INT) AS iso_dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(y) AS BIGINT) AS y_sum
  FROM daily GROUP BY event_type, isodow(d)
), tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd_all,
         CAST(SUM(y) AS BIGINT) AS y_all
  FROM daily GROUP BY event_type
)
SELECT dow.event_type, iso_dow, n_days, y_sum,
       (CAST(y_sum AS DOUBLE) / CAST(n_days AS DOUBLE))
         / (CAST(y_all AS DOUBLE) / CAST(nd_all AS DOUBLE)) AS dow_index
FROM dow JOIN tot ON tot.event_type = dow.event_type
"""


@query("seasonal_dow_index", oracle=_DOW_ORACLE)
def _seasonal_dow_index(spark, sf_dir):
    """Day-of-week seasonal indices per event type: mean daily volume
    on each ISO weekday divided by the overall mean daily volume —
    the multiplicative seasonal profile a forecaster multiplies into
    the trend (index > 1 = above-average weekday). Two divisions of
    exact integers composed in a fixed order — bit-stable. Two K-row
    aggregates off one daily rollup."""
    from pyspark import StorageLevel

    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    iso_dow = (
        F.pmod(F.dayofweek(F.col("d")) + F.lit(5), F.lit(7)) + F.lit(1)
    ).cast("int")
    dow = daily.groupBy("event_type", iso_dow.alias("iso_dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("y_sum"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd_all"),
        F.sum("y").cast("long").alias("y_all"),
    )
    idx = (F.col("y_sum").cast("double") / F.col("n_days").cast("double")) / (
        F.col("y_all").cast("double") / F.col("nd_all").cast("double")
    )
    return dow.join(tot, "event_type").select(
        "event_type", "iso_dow", "n_days", "y_sum", idx.alias("dow_index")
    )
