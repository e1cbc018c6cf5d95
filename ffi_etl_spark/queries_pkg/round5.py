"""Round-5 gated queries.

dedup_span_scrub completes the span-level dedup story: round 4 shipped
the MEASUREMENT (``dup_span_profile`` — how much cross-doc duplicated
n-gram mass each doc carries); this is the SCRUB (Lee et al. 2021
exact-substring removal — drop every non-canonical occurrence of a
cross-doc duplicated n-token span and rebuild the corpus). No
counterpart in the reference (its dedup surface is row-identity only,
SURVEY.md §2.7); north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (registration idiom parity)

from ffi_etl_spark.catalog import table
from ffi_etl_spark.operators.textops import _SPAN_POS_BITS, scrub_dup_spans
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import BM25_TERMS, COS, DSIR_ORACLE, bm25_cte

_SPAN_N = 8


def _span_scrub_oracle(elect: str) -> str:
    """The span-scrub replay around ``elect``, the CTEs that pick the
    occurrences to drop as ``scrub`` = (doc_id, s, n_tokens) from
    ``hashed`` = (doc_id, n_tokens, s, g): tokenize, hash every
    _SPAN_N-token span, drop the covered tokens of the elected
    occurrences, rebuild and summarize each document."""
    return rf"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), base AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM toked
), occ AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(1, greatest(n_tokens - {_SPAN_N - 1}, 1))) AS s
  FROM base
), hashed AS (
  SELECT o.doc_id, o.n_tokens, o.s,
         ('0x' || substr(md5(array_to_string(b.toks[o.s:o.s + {_SPAN_N - 1}], ' ')), 1, 15))::BIGINT AS g
  FROM occ o JOIN base b ON b.doc_id = o.doc_id
), {elect}, covered AS (
  SELECT DISTINCT doc_id,
         unnest(generate_series(s, least(s + {_SPAN_N - 1}, n_tokens))) AS ti
  FROM scrub
), toks_pos AS (
  SELECT doc_id, unnest(generate_series(1, n_tokens)) AS ti FROM base
), kept AS (
  SELECT tp.doc_id, tp.ti
  FROM toks_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c WHERE c.doc_id = tp.doc_id AND c.ti = tp.ti
  )
), rebuilt AS (
  SELECT k.doc_id, string_agg(b.toks[k.ti], ' ' ORDER BY k.ti) AS scrubbed
  FROM kept k JOIN base b ON b.doc_id = k.doc_id
  GROUP BY k.doc_id
), removed AS (
  SELECT doc_id, COUNT(*) AS nrem FROM covered GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS INT) AS n_tokens,
       CAST(COALESCE(r.nrem, 0) AS INT) AS n_removed,
       md5(COALESCE(rb.scrubbed, '')) AS scrubbed_md5
FROM base b
LEFT JOIN rebuilt rb ON rb.doc_id = b.doc_id
LEFT JOIN removed r ON r.doc_id = b.doc_id
"""


_SPAN_SCRUB_ORACLE = _span_scrub_oracle(rf"""stats AS (
  SELECT g, COUNT(DISTINCT doc_id) AS ddf,
         MIN(doc_id * {1 << _SPAN_POS_BITS} + s) AS canon
  FROM hashed GROUP BY g
), scrub AS (
  SELECT h.doc_id, h.s, h.n_tokens
  FROM hashed h JOIN stats t ON t.g = h.g
  WHERE t.ddf >= 2 AND h.doc_id * {1 << _SPAN_POS_BITS} + h.s <> t.canon
)""")


@query("dedup_span_scrub", oracle=_SPAN_SCRUB_ORACLE)
def _dedup_span_scrub(spark, sf_dir):
    """operators/textops.py::scrub_dup_spans over documents — the whole
    scrub (gram hashing, canonical-occurrence election, covered-window
    union, rebuild) is md5/position arithmetic, so the oracle replays
    it end to end and the gate is a full differential on
    (n_tokens, n_removed, md5-of-rebuilt-text) per document (the
    rebuilt text itself stays operator-side for pipeline use — the
    md5 pins it byte-exactly without shipping long strings through
    the canonicalizer)."""
    return scrub_dup_spans(table(spark, sf_dir, "documents"), n=_SPAN_N).select(
        "doc_id", "n_tokens", "n_removed", "scrubbed_md5"
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical list x embedding-cosine semantic list,
# fused by reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_DEPTH, _RRF_K, _RRF_TOPK, _RRF_QUERY_VEC = 50, 60, 20, 0


def _rrf_oracle() -> str:
    return f"""
WITH {bm25_cte()},
lex AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_0
  FROM piv ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH}
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
), semscored AS (
  SELECT e.vec_id AS doc_id, {COS.format(a='q.qv', b='e.v')} AS cs
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e CROSS JOIN q
  WHERE e.vec_id <> {_RRF_QUERY_VEC}
), sem AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS INT) AS rank_1
  FROM semscored ORDER BY cs DESC, doc_id LIMIT {_RRF_DEPTH}
), fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex.rank_0, sem.rank_1,
         COALESCE(1.0 / ({_RRF_K} + lex.rank_0), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + sem.rank_1), 0.0) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_0, rank_1, rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
"""


@query("hybrid_rrf_fusion", oracle=_rrf_oracle())
def _hybrid_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval (operators/textops.py::rrf_fuse): the BM25
    top-50 for the {hash, spark, window} query fused with the
    embedding-cosine top-50 around query vector 0 (documents and
    embeddings share the 0..N id space — vec_id IS the doc's
    embedding). Both ranked lists are bit-stable (rational BM25, the
    sequential cosine fold), every RRF contribution is one
    correctly-rounded division summed in fixed list order, so the
    fused float legally feeds the top-20 LIMIT and the gate is a full
    differential. The query vector's own document is absent from the
    semantic list (self-match excluded) but can still enter via the
    lexical list."""
    from pyspark.sql import Window

    from ffi_etl_spark.operators.similarity import knn_bruteforce
    from ffi_etl_spark.operators.textops import bm25_rank, rrf_fuse

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    # lexical: the top-50 frame is already reduced (TakeOrdered), so
    # the rank window runs over 50 rows, not the corpus
    lex = bm25_rank(docs, list(BM25_TERMS), k=_RRF_DEPTH).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    )
    sem = (
        knn_bruteforce(
            emb,
            emb.filter(F.col("vec_id") == _RRF_QUERY_VEC),
            k=_RRF_DEPTH,
        )
        .withColumnsRenamed({"neighbor_id": "doc_id"})
        .select("doc_id", "rank")
    )
    return rrf_fuse(
        [lex.select("doc_id", "rank"), sem], rrf_k=_RRF_K, k=_RRF_TOPK
    ).select(
        "doc_id",
        F.col("rank_0").cast("int").alias("rank_0"),
        F.col("rank_1").cast("int").alias("rank_1"),
        "rrf",
    )


# ---------------------------------------------------------------------------
# DSIR importance weights: hashed-bigram LLR vs a target domain sample
# ---------------------------------------------------------------------------

@query("dsir_importance", oracle=DSIR_ORACLE)
def _dsir_importance(spark, sf_dir):
    """operators/textops.py::dsir_importance over documents with the
    English subset as the target domain sample. The gate hashes only
    the exact-integer columns (gram count + fixed-point-quantized LLR
    weight); the convenience float `weight` stays operator-side."""
    from ffi_etl_spark.operators.textops import dsir_importance

    docs = table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == "en").select(
        "doc_id", "n_grams", "weight_q"
    )


# ---------------------------------------------------------------------------
# WOE / IV supervised encoding over equi-width value bins
# ---------------------------------------------------------------------------

_WOE_BITS = 20

_WOE_ORACLE = f"""
WITH rng AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
), binned AS (
  SELECT CASE WHEN e.value >= rng.hi THEN 9
              ELSE CAST(floor((e.value - rng.lo) / (rng.hi - rng.lo) * 10) AS BIGINT)
         END AS category,
         (e.event_type = 'purchase') AS is_purchase
  FROM events e CROSS JOIN rng
), grp AS (
  SELECT category,
         CAST(COUNT(*) FILTER (WHERE is_purchase) AS BIGINT) AS n_good,
         CAST(COUNT(*) FILTER (WHERE NOT is_purchase) AS BIGINT) AS n_bad
  FROM binned GROUP BY category
), tot AS (
  SELECT CAST(SUM(n_good) AS BIGINT) AS G, CAST(SUM(n_bad) AS BIGINT) AS B FROM grp
), woed AS (
  SELECT category, n_good, n_bad,
         CAST(FLOOR({1 << _WOE_BITS}.0 * ln(
           ((n_good + 0.5) / G) / ((n_bad + 0.5) / B)
         )) AS BIGINT) AS woe_q
  FROM grp CROSS JOIN tot
)
SELECT w.category, w.n_good, w.n_bad, w.woe_q,
       CAST(FLOOR({1 << _WOE_BITS}.0 * (
         (CAST(w.n_good AS DOUBLE) / t.G - CAST(w.n_bad AS DOUBLE) / t.B)
         * (CAST(w.woe_q AS DOUBLE) / {1 << _WOE_BITS}.0)
       )) AS BIGINT) AS iv_q
FROM woed w CROSS JOIN tot t
ORDER BY category
"""


@query("woe_iv_encoding", oracle=_WOE_ORACLE)
def _woe_iv_encoding(spark, sf_dir):
    """operators/features.py::woe_encode over equi-width deciles of
    events.value with `is a purchase` as the label — the scorecard
    encoding with the r5 transcendental rule applied (quantized WOE
    leaves; the IV term re-derives from the quantized WOE so nothing
    downstream touches a raw ln). Bin math is the proven
    histogram_equiwidth broadcast-range circuit."""
    from ffi_etl_spark.operators.features import woe_encode

    ev = table(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bin_ = F.when(F.col("value") >= F.col("hi"), F.lit(9).cast("long")).otherwise(
        F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10)
    )
    binned = (
        ev.select("value", "event_type")
        .crossJoin(F.broadcast(rng))
        .select(
            bin_.alias("category"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return woe_encode(binned, "category", "is_purchase", scale_bits=_WOE_BITS).orderBy(
        "category"
    )


# ---------------------------------------------------------------------------
# Within-doc repeated-span scrub (the removal step for repetition_filter)
# ---------------------------------------------------------------------------

_REP_SCRUB_ORACLE = _span_scrub_oracle("""firsts AS (
  SELECT doc_id, g, MIN(s) AS first_s FROM hashed GROUP BY doc_id, g
), scrub AS (
  SELECT h.doc_id, h.s, h.n_tokens
  FROM hashed h JOIN firsts f ON f.doc_id = h.doc_id AND f.g = h.g
  WHERE h.s > f.first_s
)""")


@query("repetition_span_scrub", oracle=_REP_SCRUB_ORACLE)
def _repetition_span_scrub(spark, sf_dir):
    """operators/textops.py::scrub_repeated_spans over documents —
    within-doc repeated 8-token spans keep their first occurrence
    (the removal step for repetition_filter's measurement). Same full
    end-to-end differential as dedup_span_scrub, different election
    (min position per (doc, gram), cross-doc occurrences ignored)."""
    from ffi_etl_spark.operators.textops import scrub_repeated_spans

    return scrub_repeated_spans(table(spark, sf_dir, "documents"), n=_SPAN_N).select(
        "doc_id", "n_tokens", "n_removed", "scrubbed_md5"
    )


# ---------------------------------------------------------------------------
# Distributed BPE merge learning (tokenizer training)
# ---------------------------------------------------------------------------

_BPE_MERGES, _BPE_CAP = 8, 5000


def _bpe_oracle(n_merges: int = _BPE_MERGES, cap: int = _BPE_CAP) -> str:
    """Unrolled fixed-round BPE training as a DuckDB CTE chain — the
    oracle_sql.kmeans_det_cte recipe with NO floats at all (pair counts are
    exact integers, the argmax tie-breaks lexicographically, strings
    compare bytewise UTF-8 on both engines). The greedy left-to-right
    merge application is replayed with the even-offset parity rule:
    in each run of consecutive pair matches the 1st/3rd/... merge
    (identical to the engine's fold, where a just-merged symbol can
    never re-match as the left element within the round). Every
    per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    multi-reference round structure would otherwise expand to an
    exponential plan (thousands of duplicated parquet scans — the
    oracle-side twin of the engine-side localCheckpoint fix)."""
    chain, finals = _bpe_chain(n_merges, cap)
    return rf"""
WITH {chain}
SELECT * FROM ({finals}) ORDER BY merge_rank
"""


def _bpe_chain(n_merges: int, cap: int) -> tuple[str, str]:
    """(WITH-body through s{{n}}, merge-table UNION select) — shared by
    the learn gate and the encode gate."""
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f"""p{r} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT w, freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
    FROM s{r - 1} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
), pos{r} AS MATERIALIZED (
  SELECT w, freq, syms, unnest(generate_series(1, len(syms))) AS i
  FROM s{r - 1}
), mt{r} AS (
  SELECT p.w, p.i
  FROM pos{r} p CROSS JOIN b{r} bb
  WHERE p.i < len(p.syms) AND p.syms[p.i] = bb.a AND p.syms[p.i + 1] = bb.b
), keepm{r} AS MATERIALIZED (
  SELECT w, i FROM (
    SELECT w, i, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY i) AS rn
    FROM (
      SELECT w, i, i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS grp
      FROM mt{r}
    )
  ) WHERE rn % 2 = 1
), s{r} AS MATERIALIZED (
  SELECT q.w, q.freq, list(q.sym ORDER BY q.i) AS syms FROM (
    SELECT p.w, p.freq, p.i,
           CASE WHEN k1.i IS NOT NULL THEN bb.a || bb.b ELSE p.syms[p.i] END AS sym
    FROM pos{r} p
    CROSS JOIN b{r} bb
    LEFT JOIN keepm{r} k1 ON k1.w = p.w AND k1.i = p.i
    LEFT JOIN keepm{r} k2 ON k2.w = p.w AND k2.i = p.i - 1
    WHERE k2.i IS NULL
  ) q GROUP BY q.w, q.freq
)""")
    chain = ",\n".join(rounds)
    finals = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    head = rf"""words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
), v AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words WHERE w <> ''
  GROUP BY w ORDER BY freq DESC, w LIMIT {cap}
), s0 AS MATERIALIZED (
  SELECT w, freq,
         list_append([w[i] for i in generate_series(1, len(w))], '</w>') AS syms
  FROM v
),
{chain}"""
    return head, finals


@query("bpe_learn_merges", oracle=_bpe_oracle())
def _bpe_learn_merges(spark, sf_dir):
    """operators/tokenizer.py::bpe_learn_merges over documents: the
    first 8 BPE merge rules learned from the top-5000 word vocabulary.
    The engine's representative iterative-STRING algorithm beside
    kmeans (floats) and pagerank (%.6e) — all-integer/string state, so
    the unrolled oracle is exact with no quantization caveats at all."""
    from ffi_etl_spark.operators.tokenizer import bpe_learn_merges

    return bpe_learn_merges(
        table(spark, sf_dir, "documents"), n_merges=_BPE_MERGES, vocab_cap=_BPE_CAP
    )


def _bpe_encode_oracle(n_merges: int = _BPE_MERGES, cap: int = _BPE_CAP) -> str:
    """Encode gate oracle: the training chain through s{n} (every
    vocabulary word's final symbol sequence — the classic BPE property
    that training state ≡ rank-order greedy encode of a fresh word),
    joined back onto word positions and reassembled per document.
    Valid while the vocabulary covers every corpus word (31 distinct
    words ≤ cap at every testdata SF; the ENGINE has no such
    restriction — it encodes distinct corpus words directly)."""
    chain, _ = _bpe_chain(n_merges, cap)
    return rf"""
WITH {chain},
wordpos AS MATERIALIZED (
  SELECT doc_id, i AS wp, toks[i] AS w FROM (
    SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
  ) WHERE toks[i] <> ''
), enc AS MATERIALIZED (
  SELECT wp.doc_id, wp.wp, s.syms
  FROM wordpos wp JOIN s{n_merges} s ON s.w = wp.w
), agg AS (
  SELECT doc_id,
         CAST(SUM(len(syms)) AS BIGINT) AS n_bpe_tokens,
         md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY wp)) AS tokens_md5
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       COALESCE(a.tokens_md5, md5('')) AS tokens_md5
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def _bpe_encode_corpus(spark, sf_dir):
    """Learn 8 merges, then tokenize the whole corpus with them
    (operators/tokenizer.py::bpe_encode): per-doc BPE token count +
    md5 of the full symbol stream. Ends-to-end differential over
    train→encode — the oracle replays training and reuses the final
    state as the per-word encoding (the BPE train/encode equivalence),
    while the engine encodes independently via the rank-order fold
    chain, so the gate also PROVES that equivalence holds."""
    from ffi_etl_spark.operators.tokenizer import bpe_encode, bpe_learn_merges

    docs = table(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, n_merges=_BPE_MERGES, vocab_cap=_BPE_CAP)
    return bpe_encode(docs, merges, n_merges=_BPE_MERGES)


# ---------------------------------------------------------------------------
# Deterministic mergeable quantile summary (the IVM story for quantiles)
# ---------------------------------------------------------------------------

_QS_SHARDS, _QS_K, _QS_BAND = 8, 64, 1024
_QS_QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


def _qs_oracle() -> str:
    targets = "\nUNION ALL ".join(
        f"SELECT 'p{int(q * 100)}' AS q_label, CAST(CEIL({q} * n) AS BIGINT) AS target_rank FROM tot"
        for q in _QS_QUANTILES
    )
    return f"""
WITH ev AS (
  SELECT value, event_id FROM events
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev
), sharded AS (
  SELECT value, event_id,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % {_QS_SHARDS} AS shard
  FROM ev
), ranked AS (
  SELECT value, event_id, shard,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY value, event_id) AS shard_rank,
         COUNT(*) OVER (PARTITION BY shard) AS shard_n
  FROM sharded
), summ AS MATERIALIZED (
  SELECT shard, value, event_id, shard_rank FROM ranked
  WHERE shard_rank % {_QS_K} = 0 OR shard_rank = shard_n
), est AS MATERIALIZED (
  SELECT a.value, a.event_id, CAST(a.shard_rank + {_QS_K} * COUNT(b.shard) AS BIGINT) AS est_rank
  FROM summ a LEFT JOIN summ b
    ON b.shard <> a.shard
   AND (b.value < a.value OR (b.value = a.value AND b.event_id < a.event_id))
  GROUP BY a.value, a.event_id, a.shard_rank
), targets AS (
  {targets}
), scored AS (
  SELECT t.q_label, t.target_rank, e.value, e.event_id, e.est_rank,
         ROW_NUMBER() OVER (
           PARTITION BY t.q_label
           ORDER BY abs(e.est_rank - t.target_rank), e.value, e.event_id
         ) AS rk
  FROM est e CROSS JOIN targets t
), chosen AS MATERIALIZED (
  SELECT q_label, target_rank, value, event_id, est_rank FROM scored WHERE rk = 1
), truth AS (
  SELECT c.q_label, CAST(COUNT(*) AS BIGINT) AS true_rank
  FROM ev CROSS JOIN chosen c
  WHERE ev.value < c.value OR (ev.value = c.value AND ev.event_id <= c.event_id)
  GROUP BY c.q_label
)
SELECT c.q_label, c.value AS est_value, c.est_rank, c.target_rank, t.true_rank,
       CAST(abs(t.true_rank - c.target_rank) <= {_QS_BAND} AS INT) AS band_ok
FROM chosen c JOIN truth t USING (q_label)
ORDER BY q_label
"""


@query("quantile_summary_merge", oracle=_qs_oracle())
def _quantile_summary_merge(spark, sf_dir):
    """operators/sketches.py::quantile_summary + quantile_summary_query
    over events.value: the deterministic MERGEABLE quantile summary —
    shard-local every-k-th-rank samples (what a 100 TB job persists per
    partition/day), merged into error-bounded quantile answers with
    pure-integer rank estimation. Spark's approx_percentile sketch is
    engine-private; this one is bit-reproducible on any engine, so the
    gate is a FULL differential (construction + estimation replayed in
    SQL) plus the theory-backed band flag |true−target| ≤ 2kS, checked
    with exact integer ranks."""
    from ffi_etl_spark.operators.sketches import (
        quantile_summary,
        quantile_summary_query,
    )

    ev = table(spark, sf_dir, "events")
    summ = quantile_summary(ev, n_shards=_QS_SHARDS, k=_QS_K)
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    res = quantile_summary_query(
        summ, n, list(_QS_QUANTILES), k=_QS_K
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
        (F.abs(F.col("true_rank") - F.col("target_rank")) <= F.lit(_QS_BAND))
        .cast("int")
        .alias("band_ok"),
    ).orderBy("q_label")


# ---------------------------------------------------------------------------
# Tree-ensemble inference compiled to pure relational expressions
# ---------------------------------------------------------------------------

from ffi_etl_spark.operators.inference import DEMO_TREES as _TREES  # noqa: E402


def _inference_oracle() -> str:
    from ffi_etl_spark.operators.inference import ensemble_to_sql

    margin, predicted = ensemble_to_sql(_TREES, threshold=0.0)
    return f"""
WITH feats AS (
  SELECT event_id, value, CAST(event_id % 100 AS DOUBLE) AS idmod FROM events
)
SELECT event_id, {margin} AS margin, {predicted} AS predicted
FROM feats
"""


@query("tree_ensemble_score", oracle=_inference_oracle())
def _tree_ensemble_score(spark, sf_dir):
    """operators/inference.py::score_ensemble over events — ML
    inference compiled to nested CASE expressions + a fixed-order leaf
    sum (the in-database/operator-fusion inference idea, Spark-first):
    the model is pure codegen arithmetic in the scan stage, zero
    shuffles, zero Python. The SAME tree dicts generate the Spark
    Columns AND the oracle SQL, so scoring is bit-differential."""
    from ffi_etl_spark.operators.inference import score_ensemble

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_id") % 100).cast("double").alias("idmod"),
    )
    return score_ensemble(ev, _TREES)


def _auc_oracle() -> str:
    from ffi_etl_spark.operators.inference import ensemble_to_sql

    margin, _ = ensemble_to_sql(_TREES, threshold=0.0)
    return f"""
WITH feats AS (
  SELECT event_id, value, CAST(event_id % 100 AS DOUBLE) AS idmod,
         (event_type = 'purchase') AS label
  FROM events
), scored AS (
  SELECT {margin} AS s, label FROM feats
), per_score AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS np
  FROM scored GROUP BY s
), ranked AS (
  SELECT s, n, np,
         COALESCE(SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM per_score
), agg AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg,
         CAST(SUM(np * (2 * c + n + 1)) AS BIGINT) AS u2
  FROM ranked
)
SELECT n_pos, n_neg, u2,
       CAST(u2 - n_pos * (n_pos + 1) AS DOUBLE) / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) AS auc
FROM agg
"""


@query("model_auc_exact", oracle=_auc_oracle())
def _model_auc_exact(spark, sf_dir):
    """operators/inference.py::auc_exact over the tree-ensemble margin
    with `is a purchase` as the label — exact ROC-AUC by Mann-Whitney
    rank-sum with tie-averaged ranks carried as doubled integers: all
    intermediates are BIGINTs, one division at the end, so the gate
    hashes the raw double bit-strictly. Completes the scoring op with
    its evaluation (the margin here has ~13 distinct values, so the
    rank table is K-row and the post-aggregate window is legal)."""
    from ffi_etl_spark.operators.inference import auc_exact, score_ensemble

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_id") % 100).cast("double").alias("idmod"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    # the label rides through the scorer (keep_cols) — no second scan
    # of events and no self-join just to reattach it
    return auc_exact(score_ensemble(ev, _TREES, keep_cols=("label",)))
