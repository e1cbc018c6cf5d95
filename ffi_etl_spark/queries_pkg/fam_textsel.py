"""Text-analysis and training-data-selection queries (split out of
round5b.py — VERDICT r07 item 8; pure mechanical move, zero semantic
change): unigram-LM segmentation + hard-EM refit, PPMI/Zipf vocabulary
statistics, leakage-safe splitting, contrastive negative mining, and
the DSIR token-budget selection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import DSIR_ORACLE, INT8_CODES_CTE, MINHASH_ORACLE

# ---------------------------------------------------------------------------
# Unigram-LM Viterbi segmentation (tokenizer-family completion)
# ---------------------------------------------------------------------------


def _uni_dp_chain(prefix: str, vocab_cte: str, base_cte: str) -> tuple[str, str]:
    """(rounds_sql, finals_sql) for one unrolled Viterbi chain whose
    round CTEs are named ``{prefix}{r}`` over the given vocab CTE —
    shared by the seed oracle and the EM refit's second chain."""
    from ffi_etl_spark.operators.tokenizer import UNI_MAX_PIECE, UNI_MAX_WORD

    mp = UNI_MAX_PIECE
    rounds = []
    for r in range(1, UNI_MAX_WORD + 1):
        branches = []
        for j in range(max(0, r - mp), r):
            src = f"{prefix}{j}" if j else base_cte
            branches.append(f"""
      SELECT {src}.w, {src}.wlen, {src}.score + v.score_q AS total,
             {src}.n + 1 AS n2,
             CASE WHEN {src}.path = '' THEN v.piece
                  ELSE {src}.path || ' ' || v.piece END AS path2,
             {j} AS j
      FROM {src} JOIN {vocab_cte} v ON v.piece = substr({src}.w, {j + 1}, {r - j})
      WHERE {src}.wlen >= {r}""")
        union = "\n      UNION ALL".join(branches)
        rounds.append(f"""{prefix}{r} AS MATERIALIZED (
  SELECT w, wlen, total AS score, n2 AS n, path2 AS path FROM (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY w
                                   ORDER BY total DESC, j DESC) AS rn
    FROM ({union}
    ) c
  ) WHERE rn = 1
)""")
    finals = "\n  UNION ALL ".join(
        f"SELECT * FROM {prefix}{r} WHERE wlen = {r}"
        for r in range(1, UNI_MAX_WORD + 1)
    )
    return ",\n".join(rounds), finals


def _unigram_seed_cte() -> str:
    """raw … vocab: the frequency-seeded piece vocabulary with
    fixed-point ln scores over the top words, and s0: the segmentation
    DP's start row per word."""
    from ffi_etl_spark.operators.tokenizer import (
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
        UNI_SCALE_BITS,
        UNI_VOCAB,
    )

    s, mp, wcap, vcap = float(1 << UNI_SCALE_BITS), UNI_MAX_PIECE, 5000, UNI_VOCAB
    return rf"""raw AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS raw FROM documents
), lex AS MATERIALIZED (
  SELECT substr(raw, 1, {UNI_MAX_WORD}) AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM raw WHERE raw <> '' GROUP BY 1
  ORDER BY freq DESC, w LIMIT {wcap}
), spans AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT l.freq, substr(l.w, j.j, s.l) AS piece
    FROM lex l
    CROSS JOIN (SELECT unnest(generate_series(1, {UNI_MAX_WORD})) AS j) j
    CROSS JOIN (SELECT unnest(generate_series(1, {mp})) AS l) s
    WHERE j.j + s.l - 1 <= length(l.w)
  ) GROUP BY piece
), topv AS MATERIALIZED (
  SELECT piece, cnt FROM spans ORDER BY cnt DESC, piece LIMIT {vcap}
), chars AS (
  SELECT piece, cnt FROM spans WHERE length(piece) = 1
), vocab0 AS (
  SELECT piece, MAX(cnt) AS cnt
  FROM (SELECT * FROM topv UNION ALL SELECT * FROM chars) GROUP BY piece
), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab0),
vocab AS MATERIALIZED (
  SELECT piece,
         CAST(FLOOR({s!r} * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))
              AS BIGINT) AS score_q
  FROM vocab0 CROSS JOIN tot
), s0 AS MATERIALIZED (
  SELECT w, CAST(length(w) AS INT) AS wlen, CAST(0 AS BIGINT) AS score,
         CAST(0 AS BIGINT) AS n, '' AS path
  FROM lex
)"""


def _unigram_oracle() -> str:
    rounds_sql, finals = _uni_dp_chain("s", "vocab", "s0")
    return rf"""
WITH {_unigram_seed_cte()}, {rounds_sql}, res AS (
  {finals}
)
SELECT w, CAST(wlen AS INT) AS wlen, CAST(n AS BIGINT) AS n_pieces,
       CAST(score AS BIGINT) AS score_q, path AS segmentation
FROM res
"""


@query("unigram_lm_segment", oracle=_unigram_oracle())
def _unigram_lm_segment(spark, sf_dir):
    """operators/tokenizer.py::unigram_viterbi_segment over documents —
    the SentencePiece-unigram counterpart to bpe_learn_merges/
    bpe_encode: frequency-seeded piece vocabulary (quantized-ln
    scores, single-char fallback for coverage), then a Viterbi DP over
    DISTINCT words that unrolls statically into ≤16 rounds because
    words are length-capped. All DP arithmetic is integer (quantized
    leaf scores), ties break on (total, last-split) — the oracle
    replays lexicon, vocabulary, and all 16 rounds as materialized
    CTEs, so the full segmentation table hashes bit-strictly."""
    from ffi_etl_spark.operators.tokenizer import unigram_viterbi_segment

    out = unigram_viterbi_segment(table(spark, sf_dir, "documents"))
    return out.withColumn("wlen", F.col("wlen").cast("int"))


# ---------------------------------------------------------------------------
# Contrastive negative mining (hard + random negatives per anchor)
# ---------------------------------------------------------------------------

_CN_ANCHORS, _CN_HARD, _CN_RAND = (0, 1, 2), 5, 5


def _cn_oracle() -> str:
    anchors = ", ".join(str(a) for a in _CN_ANCHORS)
    return f"""
WITH {INT8_CODES_CTE}, probes AS (
  SELECT vec_id AS anchor, dim, code AS pcode FROM codes
  WHERE vec_id IN ({anchors})
), dists AS (
  SELECT p.anchor, c.vec_id,
         CAST(SUM((c.code - p.pcode) * (c.code - p.pcode)) AS BIGINT) AS d2
  FROM codes c JOIN probes p USING (dim)
  WHERE c.vec_id <> p.anchor
  GROUP BY p.anchor, c.vec_id
), hard AS (
  SELECT anchor, vec_id, d2,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY d2, vec_id) AS rk
  FROM dists WHERE d2 > 0
), hardk AS (
  SELECT anchor, vec_id, d2, rk FROM hard WHERE rk <= {_CN_HARD}
), randpool AS (
  SELECT d.anchor, d.vec_id,
         ('0x' || substr(md5(CAST(d.anchor AS VARCHAR) || '_'
                             || CAST(d.vec_id AS VARCHAR)), 1, 8))::BIGINT AS draw,
         d.d2
  FROM dists d
  WHERE NOT EXISTS (
    SELECT 1 FROM hardk h WHERE h.anchor = d.anchor AND h.vec_id = d.vec_id
  )
), randk AS (
  SELECT anchor, vec_id, d2,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY draw, vec_id) AS rk
  FROM randpool
)
SELECT anchor, vec_id AS negative, 'hard' AS kind, d2, CAST(rk AS INT) AS rk
FROM hardk
UNION ALL
SELECT anchor, vec_id AS negative, 'random' AS kind, d2, CAST(rk AS INT) AS rk
FROM randk WHERE rk <= {_CN_RAND}
"""


@query("contrastive_negatives", oracle=_cn_oracle())
def _contrastive_negatives(spark, sf_dir):
    """Negative mining for contrastive training: per anchor, the
    ``_CN_HARD`` nearest non-identical vectors in int8 code space
    (hard negatives — the examples that actually move an embedding
    model) plus ``_CN_RAND`` md5-drawn random negatives EXCLUDING the
    hard set (the easy-negative background). Distances are exact
    integers, the random draw is the deterministic-sample idiom, both
    rankings tie on vec_id — fully bit-stable. Shape: one dim-keyed
    broadcast probe join (the knn_int8_codes kernel), per-anchor
    WindowGroupLimits, one anti-join for the exclusion."""
    from pyspark.sql import Window

    from ffi_etl_spark.functions.hashing import md5_int32
    from ffi_etl_spark.operators.quantize import quantize_codes_long

    from pyspark import StorageLevel

    codes = quantize_codes_long(table(spark, sf_dir, "embeddings"))
    probes = codes.filter(F.col("vec_id").isin(list(_CN_ANCHORS))).select(
        F.col("vec_id").alias("anchor"), "dim", F.col("code").alias("pcode")
    )
    dists = (
        codes.join(F.broadcast(probes), "dim")
        .filter(F.col("vec_id") != F.col("anchor"))
        .groupBy("anchor", "vec_id")
        .agg(
            F.sum(
                (F.col("code") - F.col("pcode")) * (F.col("code") - F.col("pcode"))
            )
            .cast("long")
            .alias("d2")
        )
        # feeds the hard ranking AND the random pool (anti-join) — pin
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wq = Window.partitionBy("anchor").orderBy("d2", "vec_id")
    hardk = (
        dists.where(F.col("d2") > 0)
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= _CN_HARD)
    )
    draw = md5_int32(
        F.concat(
            F.col("anchor").cast("string"), F.lit("_"), F.col("vec_id").cast("string")
        )
    )
    wr = Window.partitionBy("anchor").orderBy("draw", "vec_id")
    randk = (
        dists.join(hardk.select("anchor", "vec_id"), ["anchor", "vec_id"], "left_anti")
        .withColumn("draw", draw)
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= _CN_RAND)
    )
    return hardk.select(
        "anchor",
        F.col("vec_id").alias("negative"),
        F.lit("hard").alias("kind"),
        "d2",
        F.col("rk").cast("int").alias("rk"),
    ).unionByName(
        randk.select(
            "anchor",
            F.col("vec_id").alias("negative"),
            F.lit("random").alias("kind"),
            "d2",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# PPMI association + Zipf power-law fit over the corpus vocabulary
# ---------------------------------------------------------------------------

_PPMI_BITS, _PPMI_TOPK = 20, 20


def _ppmi_oracle() -> str:
    s = float(1 << _PPMI_BITS)
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents
), uni AS (
  SELECT unnest(ts) AS t FROM toks
), ucnt AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t
), nu AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM ucnt
), bi AS (
  SELECT ts[i] AS a, ts[i + 1] AS b
  FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks)
), bcnt AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bi GROUP BY a, b
), nb AS (
  SELECT CAST(SUM(cab) AS BIGINT) AS m FROM bcnt
), scoredp AS (
  SELECT bcnt.a, bcnt.b, cab, ca.c AS ca, cb.c AS cb,
         GREATEST(CAST(0 AS BIGINT), CAST(FLOOR({s!r} * ln(
           (CAST(cab AS DOUBLE) * CAST(nu.n AS DOUBLE) * CAST(nu.n AS DOUBLE))
           / (CAST(nb.m AS DOUBLE) * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
         )) AS BIGINT)) AS ppmi_q
  FROM bcnt
  JOIN ucnt ca ON ca.t = bcnt.a
  JOIN ucnt cb ON cb.t = bcnt.b
  CROSS JOIN nu CROSS JOIN nb
)
SELECT a, b, cab, ca, cb, ppmi_q
FROM scoredp ORDER BY ppmi_q DESC, a, b LIMIT {_PPMI_TOPK}
"""


@query("ppmi_associations", oracle=_ppmi_oracle())
def _ppmi_associations(spark, sf_dir):
    """Top-k adjacent-bigram PPMI associations — the log-ratio
    companion to term_collocations' transcendental-free Dice (PPMI is
    the weighting word-vector count models start from). The PMI ln is
    FIXED-POINT QUANTIZED per pair (floor(2^20·ln), clamped at 0 for
    the POSITIVE PMI), so the ranking feeding the LIMIT is integer.
    Shape: one token explode for unigrams, one shifted-pair explode
    for bigrams, vocabulary-sized joins, TakeOrdered top-k."""
    toks = table(spark, sf_dir, "documents").select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ts")
    )
    from pyspark import StorageLevel

    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    uni = toks.select(F.explode("ts").alias("t"))
    ucnt = uni.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nu = ucnt.agg(F.sum("c").cast("long").alias("n"))
    bi = toks.select(
        F.explode(
            F.expr("transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] as a, ts[i] as b))")
        ).alias("p")
    ).select("p.a", "p.b")
    bcnt = bi.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("cab"))
    nb = bcnt.agg(F.sum("cab").cast("long").alias("m"))
    s = float(1 << _PPMI_BITS)
    arg = (
        F.col("cab").cast("double")
        * F.col("n").cast("double")
        * F.col("n").cast("double")
    ) / (
        F.col("m").cast("double")
        * F.col("ca").cast("double")
        * F.col("cb").cast("double")
    )
    ppmi_q = F.greatest(
        F.lit(0).cast("long"), F.floor(F.lit(s) * F.log(arg)).cast("long")
    )
    ua = ucnt.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    return (
        bcnt.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("a", "b", "cab", "ca", "cb", ppmi_q.alias("ppmi_q"))
        .orderBy(F.desc("ppmi_q"), "a", "b")
        .limit(_PPMI_TOPK)
    )


_ZIPF_BITS = 20


def _zipf_oracle() -> str:
    s = float(1 << _ZIPF_BITS)
    return rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents
), ucnt AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY t
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r FROM ucnt
), q AS (
  SELECT CAST(FLOOR({s!r} * ln(CAST(r AS DOUBLE))) AS BIGINT) AS xq,
         CAST(FLOOR({s!r} * ln(CAST(c AS DOUBLE))) AS BIGINT) AS yq
  FROM ranked
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx
  FROM q
)
SELECT n AS vocab,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
FROM sums
"""


@query("zipf_exponent_fit", oracle=_zipf_oracle())
def _zipf_exponent_fit(spark, sf_dir):
    """Zipf power-law exponent of the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) — the corpus-health number (natural text
    ≈ −1; synthetic token soup flattens toward 0). Both logs are
    FIXED-POINT QUANTIZED at the leaf so all OLS moment sums are
    exact BIGINTs (the scale factor cancels in the slope ratio) and
    the fit is ONE division. Deterministic rank ties on term. One
    explode + vocab aggregate + K-row rank window + 1-row reduce."""
    from pyspark.sql import Window

    s = float(1 << _ZIPF_BITS)
    ucnt = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = ucnt.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), "t")).alias("r")
    )
    q = ranked.select(
        F.floor(F.lit(s) * F.log(F.col("r").cast("double"))).cast("long").alias("xq"),
        F.floor(F.lit(s) * F.log(F.col("c").cast("double"))).cast("long").alias("yq"),
    )
    sums = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    return sums.select(
        F.col("n").alias("vocab"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM hard-EM refit (one Viterbi-EM round)
# ---------------------------------------------------------------------------


def _unigram_em_oracle() -> str:
    from ffi_etl_spark.operators.tokenizer import UNI_SCALE_BITS

    s = float(1 << UNI_SCALE_BITS)
    rounds1, finals1 = _uni_dp_chain("s", "vocab", "s0")
    rounds2, finals2 = _uni_dp_chain("t", "vocab2", "s0")
    return rf"""
WITH {_unigram_seed_cte()}, {rounds1}, res1 AS MATERIALIZED (
  {finals1}
), usage AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS used FROM (
    SELECT l.freq, unnest(string_split(r.path, ' ')) AS piece
    FROM res1 r JOIN lex l ON l.w = r.w
  ) GROUP BY piece
), tu AS (SELECT CAST(SUM(used) AS BIGINT) AS tu FROM usage),
vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
vocab2 AS MATERIALIZED (
  SELECT vb.piece,
         CAST(FLOOR({s!r} * ln(
           CAST(COALESCE(u.used, 0) + 1 AS DOUBLE)
           / CAST(tu.tu + vsz.v AS DOUBLE))) AS BIGINT) AS score_q
  FROM vocab vb LEFT JOIN usage u ON u.piece = vb.piece
  CROSS JOIN tu CROSS JOIN vsz
), {rounds2}, res2 AS (
  {finals2}
)
SELECT w, CAST(wlen AS INT) AS wlen, CAST(n AS BIGINT) AS n_pieces,
       CAST(score AS BIGINT) AS score_q, path AS segmentation
FROM res2
"""


@query("unigram_em_refit", oracle=_unigram_em_oracle())
def _unigram_em_refit(spark, sf_dir):
    """operators/tokenizer.py::unigram_em_refit — one HARD-EM
    (Viterbi-EM) round on the unigram model: segment under the seed
    scores, count frequency-weighted piece USAGE from the best splits,
    re-score with Laplace smoothing (quantized ln at the leaf), and
    re-segment. Hard EM keeps every step integer-exact, which is what
    makes an EM iteration oracle-gateable at all — the oracle replays
    BOTH unrolled DP chains plus the usage/M-step in one CTE program.
    Unused pieces crash toward the floor score (self-pruning), the
    behavior the full SentencePiece trainer iterates to convergence."""
    from ffi_etl_spark.operators.tokenizer import unigram_em_refit

    out = unigram_em_refit(table(spark, sf_dir, "documents"))
    return out.withColumn("wlen", F.col("wlen").cast("int"))


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (split by near-dup component)
# ---------------------------------------------------------------------------


def _lss_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({MINHASH_ORACLE})
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), verts AS (
  SELECT DISTINCT a AS v FROM edges
), reach(v, m) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
), comp AS (
  SELECT v AS doc_id, MIN(m) AS component FROM reach GROUP BY v
), allc AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
), split AS (
  SELECT doc_id, component,
         CASE ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT % 10
           WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END AS split
  FROM allc
)
SELECT doc_id, component, split FROM split
"""


@query("leakage_safe_split", oracle=_lss_oracle())
def _leakage_safe_split(spark, sf_dir):
    """The PREVENTION completing split_leakage_audit's detection:
    train/val/test assignment keyed on the near-dup COMPONENT id
    (md5 mod 10 → 8/1/1), so an entire cluster of near-duplicates
    lands in one split and eval contamination via templates is
    impossible by construction — splitting by doc_id (the
    train_val_test_split idiom) cannot guarantee that. Singleton docs
    are their own component via the left join. Pairs → components is
    the dedup_components machinery; the split is the deterministic-
    sample idiom on the CANONICAL id."""
    from ffi_etl_spark.functions.hashing import md5_int32
    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(docs)
    comp = connected_components(pairs).withColumnsRenamed(
        {"vertex": "doc_id", "component": "component"}
    )
    allc = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    bucket = md5_int32(F.col("component").cast("string")) % 10
    return allc.select(
        "doc_id",
        "component",
        F.when(bucket == 8, F.lit("val"))
        .when(bucket == 9, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# DSIR budget selection: importance-ranked keep under a token budget
# ---------------------------------------------------------------------------

_DSIR_BUDGET = 10_000


def _dsir_budget_oracle() -> str:
    return rf"""
WITH w AS ({DSIR_ORACLE}
), tk AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
  FROM documents
), ranked AS (
  SELECT w.doc_id, w.weight_q, tk.ntok,
         COALESCE(SUM(tk.ntok) OVER (
           ORDER BY w.weight_q DESC, w.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM w JOIN tk USING (doc_id)
)
SELECT doc_id, weight_q, ntok, CAST(off + ntok AS BIGINT) AS cum_tokens
FROM ranked WHERE off + ntok <= {_DSIR_BUDGET}
"""


@query("dsir_budget_selection", oracle=_dsir_budget_oracle())
def _dsir_budget_selection(spark, sf_dir):
    """The SELECTION completing dsir_importance's weighting: keep the
    highest-importance documents until the token budget fills —
    greedy by (weight_q DESC, doc_id), a document enters iff its
    whole token count still fits (exclusive-prefix + own ≤ budget).
    All integers. The global rank-order cumsum runs through
    ``global_cumsum_exclusive`` (range partition + per-partition
    window + broadcast offsets — the pack_sequences machinery), so no
    single-task window touches the corpus at scale.

    Driver-red r06+r07 post-mortem (round 8): the oracle's
    ``cum_tokens`` was ``off + ntok`` with ``off`` an UNCAST windowed
    SUM — HUGEINT, the registry's only int-on-Spark/float-through-
    pandas-on-DuckDB gated output; now CAST AS BIGINT (standing
    HUGEINT rule). See queries_pkg/round8.py for the full analysis and
    the three stage-bisection probes that ride in the r08 window."""
    from ffi_etl_spark.operators.textops import (
        dsir_importance,
        global_cumsum_exclusive,
    )

    docs = table(spark, sf_dir, "documents")
    w = dsir_importance(docs, F.col("lang") == "en").select("doc_id", "weight_q")
    tk = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ntok"),
    )
    sel = w.join(tk, "doc_id").withColumn("negw", -F.col("weight_q"))
    off = global_cumsum_exclusive(sel, ["negw", "doc_id"], "ntok", "off")
    return (
        off.where(F.col("off") + F.col("ntok") <= _DSIR_BUDGET)
        .select(
            "doc_id",
            "weight_q",
            "ntok",
            (F.col("off") + F.col("ntok")).alias("cum_tokens"),
        )
    )


