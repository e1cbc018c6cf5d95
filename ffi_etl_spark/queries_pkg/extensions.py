"""LLM-data-pipeline extension queries (dedup, similarity, text, events,
multimodal) over the `documents` / `embeddings` / `events` testdata.

These are first-class engine operators beyond the reference's surface
(BASELINE.json north star). Every hash primitive is md5-derived
(functions/hashing.py) precisely so each tier has a bit-exact DuckDB
oracle here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    simhash_fingerprints,
)
from ffi_etl_spark.operators.multimodal import attach_binary_payload, extract_features
from ffi_etl_spark.operators.similarity import ann_sign_lsh_pairs, knn_bruteforce
from ffi_etl_spark.operators.textops import detect_language, fingerprint, text_stats
from ffi_etl_spark.operators.windows import (
    latest_per_key,
    resample_locf,
    sessionize,
    sliding_agg,
    tumbling_agg,
)
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import (
    COS,
    MINHASH_ORACLE,
    bands_sql,
    jround,
    kmeans_det_cte,
    minhash_pairs_cte,
    nearest_cells_cte,
    sig_sql,
)

# ---------------------------------------------------------------------------
# dedup tier 1: exact content hash
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def _dedup_exact(spark, sf_dir):
    return dedup_exact(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup tier 2: MinHash + LSH band join + exact-Jaccard verify
# DuckDB mirror of functions/hashing.py: md5_int32 shingle hashes,
# universal-hash MinHash signature, banded keys, verified pairs.
# ---------------------------------------------------------------------------


@query("dedup_minhash", oracle=MINHASH_ORACLE)
def _dedup_minhash(spark, sf_dir):
    return dedup_minhash_lsh(table(spark, sf_dir, "documents"))


# The incremental tier now DEFAULTS to the adaptive probe pick
# (VERDICT r07 item 2), and this corpus's ambient shingle similarity
# (0.20-0.25 on the %10!=0 corpus subset at every gate SF) makes
# choose_minhash_split pick (24, 4, 6) deterministically — pinned by
# tests/test_round8.py::test_incremental_default_split_pinned so a
# probe/chooser/testdata drift breaks a test before this oracle.
_INCREMENTAL_ORACLE = f"""
WITH {minhash_pairs_cte(num_perm=24, bands=4)}
SELECT id_a, id_b, jaccard_sim,
       CASE WHEN id_a % 10 = 0 AND id_b % 10 = 0 THEN 'new_new'
            ELSE 'new_old' END AS pair_type
FROM verified
WHERE jaccard_sim >= 0.5 AND (id_a % 10 = 0 OR id_b % 10 = 0)
"""


@query("dedup_minhash_incremental", oracle=_INCREMENTAL_ORACLE)
def _dedup_minhash_incremental(spark, sf_dir):
    """Daily-ingest dedup: documents with doc_id % 10 == 0 play the
    arriving batch, the rest the standing corpus. The engine generates
    only new×(corpus ∪ new) band candidates (operators/dedup.py::
    dedup_minhash_incremental — corpus×corpus never pairs); the oracle
    runs the full pair pipeline and filters to ≥1-new-side pairs, which
    is the same set because band collision is pairwise. Called with the
    DEFAULT split, which since round 8 is the adaptive probe's pick —
    the gate covers the configuration an untuned user actually runs.

    The probe's pick is asserted against the oracle's (24, 4) pin HERE,
    at query-run time (ADVICE r08): a chooser / probe / testdata drift
    at ANY gate SF now fails loudly with this message instead of
    surfacing as an opaque driver hash mismatch (the pytest pin in
    tests/test_round8.py only covers the three known SFs). The resolved
    split is then passed explicitly so the probe runs once, not twice."""
    from ffi_etl_spark.operators.dedup import (
        dedup_minhash_incremental,
        resolve_minhash_split,
    )

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    split = resolve_minhash_split(corpus)
    if split != (24, 4):
        raise AssertionError(
            f"adaptive default resolved {split} on this corpus subset, but "
            "the DuckDB oracle is pinned at (24, 4) — re-pin the oracle's "
            "minhash_pairs_cte(num_perm, bands) to the new pick (and "
            "tests/test_round8.py::test_incremental_default_split_pinned)"
        )
    return dedup_minhash_incremental(corpus, batch, num_perm=24, bands=4)


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({MINHASH_ORACLE})
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), verts AS (
  SELECT DISTINCT a AS v FROM edges
), reach(v, m) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
)
SELECT v AS doc_id, MIN(m) AS component FROM reach GROUP BY v
"""


@query("dedup_components", oracle=_COMPONENTS_ORACLE)
def _dedup_components(spark, sf_dir):
    """Near-dup clusters: transitive closure of the MinHash pair graph.
    component = min doc_id of the cluster = the canonical document to
    keep; "corpus minus non-canonical members" is then a single anti
    join. Oracle = recursive CTE over the same pair query (min
    reachable id per vertex ≡ min-label fixpoint)."""
    from ffi_etl_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh(table(spark, sf_dir, "documents"))
    return connected_components(pairs).withColumnsRenamed({"vertex": "doc_id"})


# ---------------------------------------------------------------------------
# dedup tier 3: SimHash fingerprints + Hamming-banded near-dup pairs
# ---------------------------------------------------------------------------

_SIMHASH_FP_CTE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
  GROUP BY doc_id, b
), fp AS (
  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
"""


@query("simhash_fingerprints", oracle=_SIMHASH_FP_CTE + "SELECT doc_id, simhash FROM fp")
def _simhash_fingerprints(spark, sf_dir):
    return simhash_fingerprints(table(spark, sf_dir, "documents"))


@query(
    "dedup_simhash",
    oracle=_SIMHASH_FP_CTE
    + """
, chunks AS (
  SELECT doc_id, simhash, c,
         (simhash >> (15 * c)) & 32767 AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
""",
)
def _dedup_simhash(spark, sf_dir):
    return dedup_simhash(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup tier 4: word-n-gram Jaccard with aggressive banding
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = rf"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct([
           ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 2, 1))
         ]) AS hashes
  FROM toked
), sigs AS (
  SELECT doc_id, hashes, {sig_sql(12)} AS sig FROM grams
), banded AS (
  SELECT doc_id, hashes, unnest({bands_sql(6, 2)}) AS band_key,
         unnest(generate_series(0, 5)) AS band_idx
  FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), verified AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(ha.hashes, hb.hashes))::DOUBLE
           / len(list_distinct(ha.hashes || hb.hashes))::DOUBLE AS jaccard_sim
  FROM pairs p
  JOIN grams ha ON ha.doc_id = p.id_a
  JOIN grams hb ON hb.doc_id = p.id_b
)
SELECT * FROM verified WHERE jaccard_sim >= 0.4
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def _dedup_ngram_jaccard(spark, sf_dir):
    return dedup_ngram_jaccard(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# similarity search over embeddings (array<float>)
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 100 = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id, {COS.format(a='qv', b='cv')} AS cosine_sim
  FROM c CROSS JOIN q WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank::INT AS rank FROM ranked WHERE rank <= 10
"""


@query("knn_bruteforce", oracle=_KNN_ORACLE)
def _knn_bruteforce(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return knn_bruteforce(emb, queries, k=10)


_SIGN_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)" for i in range(8)
)

_ANN_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_SIGN_BUCKET} AS bucket FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
         {COS.format(a='a.v', b='bb.v')} AS cosine_sim
  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.15
"""


@query("ann_embedding_pairs", oracle=_ANN_ORACLE)
def _ann_embedding_pairs(spark, sf_dir):
    return ann_sign_lsh_pairs(table(spark, sf_dir, "embeddings"), bits=8, threshold=0.15)


_EMB_COMPONENTS_ORACLE = f"""
WITH RECURSIVE p AS (
  SELECT id_a, id_b FROM ({_ANN_ORACLE})
), edges AS (
  SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p
), verts AS (SELECT DISTINCT a AS v FROM edges),
reach(v, m) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
)
SELECT v AS vec_id, MIN(m) AS component FROM reach GROUP BY v
"""


@query("dedup_embedding", oracle=_EMB_COMPONENTS_ORACLE)
def _dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup, clustered: sign-LSH bucketed cosine
    pairs -> connected components -> (vec_id, component) where the
    component id is the canonical (min) member to keep. Completes the
    dedup family: exact / MinHash / SimHash / n-gram / embedding."""
    from ffi_etl_spark.operators.graph import connected_components

    pairs = ann_sign_lsh_pairs(table(spark, sf_dir, "embeddings"), bits=8, threshold=0.15)
    return connected_components(pairs).withColumnsRenamed({"vertex": "vec_id"})


# ---------------------------------------------------------------------------
# text analysis over documents
# ---------------------------------------------------------------------------

_STOPWORDS = r"\b(the|a|an|and|or|of|to|in|is|it)\b"
_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_TEXT_STATS_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         len(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens_ws,
         len(regexp_extract_all(text, '{_TOKEN_REGEX}', 0)) AS n_tokens_bpe,
         (len(text) - len(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
           / greatest(len(text), 1) AS punct_ratio_raw,
         len(regexp_extract_all(lower(text), '{_STOPWORDS}', 0))::DOUBLE
           / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio_raw,
         list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> len(t)))::DOUBLE
           / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_word_len_raw
  FROM documents
)
SELECT doc_id, n_chars, n_tokens_ws, n_tokens_bpe,
       {jround('punct_ratio_raw', 6)} AS punct_ratio,
       {jround('stopword_ratio_raw', 6)} AS stopword_ratio,
       {jround('mean_word_len_raw', 6)} AS mean_word_len,
       ((CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN punct_ratio_raw < 0.1 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN stopword_ratio_raw > 0.05 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN mean_word_len_raw BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)) / 4.0
         AS quality_score
FROM base
"""


@query("text_stats", oracle=_TEXT_STATS_ORACLE)
def _text_stats(spark, sf_dir):
    return text_stats(table(spark, sf_dir, "documents"))


_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def _marker_count(lang: str) -> str:
    pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}', 0))"


_LANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         {_marker_count('en')} AS s_en, {_marker_count('es')} AS s_es,
         {_marker_count('de')} AS s_de, {_marker_count('fr')} AS s_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM scored
"""


@query("lang_id", oracle=_LANG_ORACLE)
def _lang_id(spark, sf_dir):
    return detect_language(table(spark, sf_dir, "documents"))


_FINGERPRINT_ORACLE = rf"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct([
           ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 2, 1))
         ]) AS hashes
  FROM toked
), sigs AS (
  SELECT doc_id, {sig_sql(4)} AS sig FROM grams
)
SELECT doc_id,
       array_to_string(list_transform(sig, x -> printf('%x', x)), '-') AS fingerprint
FROM sigs
"""


@query("doc_fingerprint", oracle=_FINGERPRINT_ORACLE)
def _doc_fingerprint(spark, sf_dir):
    return fingerprint(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# event-time windows (batch forms of the streaming operators)
# ---------------------------------------------------------------------------

@query(
    "tumbling_agg",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
""",
)
def _tumbling_agg(spark, sf_dir):
    return tumbling_agg(table(spark, sf_dir, "events"))


@query(
    "sliding_agg",
    oracle="""
WITH w AS (
  SELECT e.*, time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS ws
  FROM events e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
)
SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM w
GROUP BY 1, 2
""",
)
def _sliding_agg(spark, sf_dir):
    return sliding_agg(table(spark, sf_dir, "events"))


@query(
    "resample_gapfill",
    oracle="""
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), hourly AS (
  SELECT user_id, hour, value FROM ranked WHERE rn = 1
), span AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span
)
, locf AS (
  SELECT g.user_id, g.hour,
         last_value(h.value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
)
SELECT user_id,
       COUNT(*) AS n_hours,
       COUNT(value_locf) AS n_filled,
       MIN(value_locf) AS min_locf,
       MAX(value_locf) AS max_locf
FROM locf GROUP BY user_id
""",
)
def _resample_gapfill(spark, sf_dir):
    """Hourly LOCF gap-fill per user (operators/windows.py::resample_locf),
    verified through a per-user profile of the filled grid (grid size,
    fill coverage, min/max of the carried values — all order-independent
    aggregates, no DOUBLE sums). Row-level fill values are separately
    property-tested against pandas resample().last().ffill()
    (test_properties.py); the aggregate keeps the gate's result transfer
    at |users| rows instead of the full 105k-row grid."""
    locf = resample_locf(table(spark, sf_dir, "events"))
    return locf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.count("value_locf").alias("n_filled"),
        F.min("value_locf").alias("min_locf"),
        F.max("value_locf").alias("max_locf"),
    )


@query(
    "sessionize",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) + 1 AS session_id
  FROM o
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS session_start_us, epoch_us(MAX(ts)) AS session_end_us
FROM s GROUP BY 1, 2
""",
)
def _sessionize(spark, sf_dir):
    """Session bounds are emitted as epoch-microsecond BIGINTs, not raw
    timestamps: integer columns hash identically under any harness
    canonicalizer, where timestamp stringification (trailing-zero /
    sub-second digits) can diverge between a Spark collect and a DuckDB
    fetch even when the instants are equal."""
    s = sessionize(table(spark, sf_dir, "events"))
    return s.select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


@query(
    "latest_per_key",
    oracle="""
WITH r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_id, ts, user_id, event_type, value, props FROM r WHERE rn = 1
""",
)
def _latest_per_key(spark, sf_dir):
    return latest_per_key(table(spark, sf_dir, "events"), ["user_id", "event_type"])


# ---------------------------------------------------------------------------
# multimodal: binary payload plumbing + Arrow-batched feature extraction
# ---------------------------------------------------------------------------

@query(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       sha256(text) AS sha256,
       CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS fake_width,
       CAST((octet_length(encode(text)) % 480) + 1 AS INT) AS fake_height
FROM documents
""",
)
def _multimodal_features(spark, sf_dir):
    docs = attach_binary_payload(table(spark, sf_dir, "documents"))
    return extract_features(docs)


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS fake_width,
       CAST((octet_length(encode(text)) % 480) + 1 AS INT) AS fake_height,
       224 AS out_width, 224 AS out_height,
       sha256(text || '224x224') AS resized_sha
FROM documents
""",
)
def _multimodal_resize(spark, sf_dir):
    from ffi_etl_spark.operators.multimodal import resize_images

    docs = attach_binary_payload(table(spark, sf_dir, "documents"))
    return resize_images(docs)


@query(
    "multimodal_frames",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(CAST(ceil(len(text) / 256.0) AS INT) - 1, 0)))
           AS frame_idx
  FROM documents
), chunked AS (
  SELECT doc_id, frame_idx, substr(text, 1 + frame_idx * 256, 256) AS chunk
  FROM f WHERE frame_idx % 2 = 0
)
SELECT doc_id, frame_idx, sha256(chunk) AS frame_sha, len(chunk) AS frame_chars
FROM chunked
""",
)
def _multimodal_frames(spark, sf_dir):
    from ffi_etl_spark.operators.multimodal import sample_frames

    return sample_frames(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# IVF(nprobe=1) approximate top-k: label-centroid coarse quantizer,
# per-cell search (the scale path when |queries| is large).
# ---------------------------------------------------------------------------

# The label-centroid cell model and the top-10 tail both IVF gates share.
_IVF_HEAD = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT label AS centroid_id, list(avg_x ORDER BY i) AS centroid
  FROM (
    SELECT label, i, avg(v[i]) AS avg_x
    FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, i
  )
  GROUP BY label
)"""
_IVF_TAIL = """, ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank::INT AS rank FROM ranked WHERE rank <= 10
"""

_IVF_ORACLE = f"""{_IVF_HEAD}, {nearest_cells_cte("assign", cells="cent")}, scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {COS.format(a='q.v', b='n.v')} AS cosine_sim
  FROM assign q JOIN assign n USING (centroid_id)
  WHERE q.vec_id % 100 = 0 AND n.vec_id <> q.vec_id
){_IVF_TAIL}"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def _ann_ivf_topk(spark, sf_dir):
    from ffi_etl_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_ivf_topk(emb, queries, dim=64)


_ASSIGN_C = nearest_cells_cte("assign_c", cells="cent")
_ASSIGN_Q = nearest_cells_cte("assign_q", cells="cent", mod=100, rk=2)
_IVF_NPROBE2_ORACLE = f"""{_IVF_HEAD}, {_ASSIGN_C}, {_ASSIGN_Q}, scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {COS.format(a='q.v', b='n.v')} AS cosine_sim
  FROM assign_q q JOIN assign_c n USING (centroid_id)
  WHERE n.vec_id <> q.vec_id
){_IVF_TAIL}"""


@query("ann_ivf_nprobe2", oracle=_IVF_NPROBE2_ORACLE)
def _ann_ivf_nprobe2(spark, sf_dir):
    """IVF with nprobe=2: each query searches its two nearest cells —
    the recall dial turned one notch, still an equi-join on
    centroid_id (operators/similarity.py::ann_ivf_topk)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_ivf_topk(emb, queries, dim=64, nprobe=2)


# ---------------------------------------------------------------------------
# sketch / quantile surface
# ---------------------------------------------------------------------------

@query(
    "quantiles_exact",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
""",
)
def _quantiles_exact(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
    )


@query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS INT) AS hll_within_band
FROM events GROUP BY event_type
""",
)
def _approx_distinct_users(spark, sf_dir):
    """HLL++ sketch vs exact distinct, gated as an error-band
    differential: the sketch value itself is engine-specific (DuckDB's
    approx_count_distinct uses a different HLL), so the oracle-checked
    output is the exact count plus a band flag asserting the Spark
    sketch landed within 5% of truth (rsd=0.02 → ~2σ margin). The
    sketch is deterministic for fixed data, so the flag is stable."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.02)
                - F.count_distinct("user_id")
            )
            <= 0.05 * F.count_distinct("user_id")
        )
        .cast("int")
        .alias("hll_within_band"),
    )


@query(
    "dedup_minhash_fast",
    oracle=f"""
WITH {minhash_pairs_cte()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_md5,
       CAST(1 AS INT) AS fast_recall_ok,
       CAST(1 AS INT) AS fast_precision_ok
FROM verified WHERE jaccard_sim >= 0.5
""",
)
def _dedup_minhash_fast(spark, sf_dir):
    """xxhash64 MinHash tier, graded as a derived invariant (VERDICT
    r04 recipe c): the fast tier's hashes are engine-private (no DuckDB
    xxhash64), but its VERIFIED pair set must closely agree with the
    fully-oracled md5 tier's — same algorithm, different hash family,
    so only band-collision luck differs. Output: the md5 tier's exact
    pair count (hash-checked against the oracle) plus two deterministic
    flags: |fast ∩ md5| ≥ 0.9·n_md5 (recall) and ≥ 0.9·n_fast
    (precision). Measured agreement on the testdata: 25/25/25 at
    sf0.01, 255/254/253 at sf0.1 — both flags hold with margin, and
    xxhash64 is deterministic so the flags cannot flake. Thresholds
    use integer arithmetic (10·common ≥ 9·n) — no float boundary.

    The approx_distinct_users precedent: exact SQL-computable content
    plus engine-deterministic band flags the oracle pins to 1."""
    docs = table(spark, sf_dir, "documents")
    md5p = dedup_minhash_lsh(docs).select("id_a", "id_b")
    fastp = dedup_minhash_lsh(docs, fast=True).select("id_a", "id_b")
    common = md5p.intersect(fastp)
    stats = (
        md5p.agg(F.count(F.lit(1)).alias("n_md5"))
        .crossJoin(fastp.agg(F.count(F.lit(1)).alias("n_fast")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
    )
    return stats.select(
        F.col("n_md5").alias("n_pairs_md5"),
        (F.col("n_common") * 10 >= F.col("n_md5") * 9).cast("int").alias("fast_recall_ok"),
        (F.col("n_common") * 10 >= F.col("n_fast") * 9).cast("int").alias("fast_precision_ok"),
    )


@query(
    "dedup_simhash_fast",
    oracle=_SIMHASH_FP_CTE
    + """
, chunks AS (
  SELECT doc_id, simhash, c,
         (simhash >> (15 * c)) & 32767 AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
), md5_pairs AS (
  SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
  FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_md5,
       CAST(COUNT(*) FILTER (WHERE hamming <= 1) AS BIGINT) AS n_strong_md5,
       CAST(1 AS INT) AS strong_recall_ok
FROM md5_pairs
""",
)
def _dedup_simhash_fast(spark, sf_dir):
    """xxhash64 SimHash tier, graded as a derived invariant. Unlike
    MinHash (where the verify step is hash-family-agnostic exact
    Jaccard), SimHash's Hamming distance IS family-specific: borderline
    majority-vote bits flip between families, so the hamming≤3 pair
    sets genuinely diverge (measured: recall 0.32 at sf0.1 — inherent
    to SimHash, not a plumbing bug). What DOES cross families is the
    strong-near-dup core: md5-tier pairs at hamming ≤ 1 are found by
    the fast tier (any hamming ≤ 3) at 6/6 (sf0.01) and 85/98 = 0.867
    (sf0.1). Output: the md5 tier's exact pair count and strong-pair
    count (both hash-checked against the oracle) plus a deterministic
    flag |{md5 h≤1} ∩ fast| ≥ 0.8·n_strong — integer arithmetic, no
    float boundary, xxhash64 deterministic so no flake."""
    from ffi_etl_spark.operators.dedup import dedup_simhash

    docs = table(spark, sf_dir, "documents")
    md5p = dedup_simhash(docs)
    fastp = dedup_simhash(docs, fast=True).select("id_a", "id_b")
    strong = md5p.filter(F.col("hamming") <= 1).select("id_a", "id_b")
    found = strong.intersect(fastp)
    stats = (
        md5p.agg(F.count(F.lit(1)).alias("n_md5"))
        .crossJoin(strong.agg(F.count(F.lit(1)).alias("n_strong")))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
    )
    return stats.select(
        F.col("n_md5").alias("n_pairs_md5"),
        F.col("n_strong").alias("n_strong_md5"),
        (F.col("n_found") * 10 >= F.col("n_strong") * 8).cast("int").alias("strong_recall_ok"),
    )


def _brp_oracle(threshold: float = 1.2, bucket_length: float = 2.0,
                num_hash_tables: int = 3, dim: int = 64) -> str:
    """Full differential oracle for the deterministic BRP tier: the
    hyperplane components are md5-derived integers (similarity.py::
    brp_hyperplanes) emitted here as ``m/1000.0`` literals so both
    engines parse the identical double; dot products and the
    squared-diff Euclidean fold are sequential list arithmetic —
    bit-identical to Spark's zip_with/aggregate folds (the knn/COS
    precedent), so bucket floors and the threshold compare agree
    exactly."""
    from ffi_etl_spark.operators.similarity import brp_hyperplanes

    planes = brp_hyperplanes(num_hash_tables, dim)
    tables = ", ".join(
        f"([{', '.join(f'{int(round(x * 1000))}/1000.0' for x in planes[t])}], {t})"
        for t in range(num_hash_tables)
    )
    return f"""
WITH planes(r, t) AS (VALUES {tables}),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bucketed AS (
  SELECT e.vec_id, e.v, p.t,
         CAST(FLOOR(list_dot_product(e.v, p.r) / {bucket_length}) AS BIGINT) AS bk
  FROM e CROSS JOIN planes p
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a JOIN bucketed b
    ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id
), diffed AS (
  SELECT c.id_a, c.id_b,
         [ea.v[i] - eb.v[i] for i in generate_series(1, {dim})] AS diff
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
), verified AS (
  SELECT id_a, id_b, sqrt(list_dot_product(diff, diff)) AS euclid_dist
  FROM diffed
)
SELECT id_a, id_b, euclid_dist FROM verified WHERE euclid_dist <= {threshold}
"""


@query("ann_brp_lsh", oracle=_brp_oracle())
def _ann_brp_lsh(spark, sf_dir):
    """Deterministic bucketed-random-projection LSH (Euclidean) with a
    full differential oracle — the VERDICT r04 recipe-d upgrade from
    the MLlib-seeded rows-only tier (the stock MLlib path survives as
    ``ann_brp_lsh_pairs_mllib`` for interop, ungated)."""
    from ffi_etl_spark.operators.similarity import ann_brp_lsh_pairs

    return ann_brp_lsh_pairs(table(spark, sf_dir, "embeddings"), threshold=1.2)


# ---------------------------------------------------------------------------
# temporal joins Spark lacks natively (as-of, range) + OLAP grouping breadth
# ---------------------------------------------------------------------------

@query(
    "asof_join_last_purchase",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, ts AS r_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       epoch_us(r.r_ts) AS last_purchase_ts_us, r.purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.r_ts
""",
)
def _asof_join_last_purchase(spark, sf_dir):
    """Timestamps are emitted as epoch-microsecond BIGINTs (same
    hardening as `sessionize`): integer columns hash identically under
    any harness canonicalizer, where sub-second timestamp
    stringification can diverge between fetch paths."""
    from ffi_etl_spark.operators.olap import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts"), F.col("value").alias("purchase_value")
    )
    return (
        asof_join(
            clicks, purchases, on=["user_id"], left_ts="ts", right_ts="r_ts",
            right_cols=["purchase_value"],
        )
        .withColumnRenamed("asof_r_ts", "last_purchase_ts")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.unix_micros("last_purchase_ts").alias("last_purchase_ts_us"),
            "purchase_value",
        )
    )


@query(
    "range_join_follows",
    oracle="""
WITH l AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT l.click_id, l.user_id, l.click_ts, r.purchase_id, r.purchase_ts
FROM l JOIN r ON l.user_id = r.user_id
 AND epoch(r.purchase_ts) - epoch(l.click_ts) > 0
 AND epoch(r.purchase_ts) - epoch(l.click_ts) <= 1800
""",
)
def _range_join_follows(spark, sf_dir):
    from ffi_etl_spark.operators.olap import range_join_binned

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    return range_join_binned(
        clicks, purchases, on=["user_id"],
        left_ts="click_ts", right_ts="purchase_ts", max_gap_seconds=1800,
    )


@query(
    "cube_agg",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def _cube_agg(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@query(
    "rollup_agg",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def _rollup_agg(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@query(
    "pivot_status",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
FROM orders GROUP BY o_orderpriority
""",
)
def _pivot_status(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").pivot("o_orderstatus", ["O", "F", "P"]).count()


_QUALITY_FILTER_ORACLE = rf"""
WITH sig AS (
  SELECT doc_id,
         len(text) AS n_chars,
         (len(text) - len(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
           / greatest(len(text), 1) AS punct_ratio_raw,
         len(regexp_extract_all(lower(text), '{_STOPWORDS}', 0))::DOUBLE
           / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio_raw,
         list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> len(t)))::DOUBLE
           / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_word_len_raw
  FROM documents
), tagged AS (
  SELECT doc_id,
         CASE WHEN n_chars < 100 THEN 'too_short'
              WHEN n_chars > 10000 THEN 'too_long'
              WHEN punct_ratio_raw >= 0.1 THEN 'too_punctuated'
              WHEN stopword_ratio_raw <= 0.05 THEN 'low_stopword_density'
              WHEN mean_word_len_raw < 3 OR mean_word_len_raw > 10 THEN 'abnormal_word_length'
              ELSE 'ok' END AS reject_reason
  FROM sig
)
SELECT doc_id, reject_reason, reject_reason = 'ok' AS keep FROM tagged
"""


@query("doc_quality_filter", oracle=_QUALITY_FILTER_ORACLE)
def _doc_quality_filter(spark, sf_dir):
    from ffi_etl_spark.operators.textops import quality_filter

    return quality_filter(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# flagship composition: quality gate -> exact dedup -> near-dup components
# ---------------------------------------------------------------------------

_PRETRAIN_ORACLE = f"""
WITH RECURSIVE
q AS ({_QUALITY_FILTER_ORACLE}),
kept AS (SELECT doc_id FROM q WHERE keep),
qd AS (SELECT d.doc_id, d.text FROM documents d
       WHERE d.doc_id IN (SELECT doc_id FROM kept)),
canon AS (SELECT MIN(doc_id) AS doc_id FROM qd GROUP BY md5(text)),
cd AS (SELECT d.doc_id, d.text FROM qd d
       WHERE d.doc_id IN (SELECT doc_id FROM canon)),
{minhash_pairs_cte("cd")},
np AS (SELECT id_a, id_b FROM verified WHERE jaccard_sim >= 0.5),
edges AS (
  SELECT id_a AS a, id_b AS b FROM np
  UNION ALL
  SELECT id_b, id_a FROM np
),
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(v, m) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.v
),
comp AS (SELECT v AS doc_id, MIN(m) AS component FROM reach GROUP BY v),
dups AS (SELECT doc_id FROM comp WHERE component <> doc_id)
SELECT doc_id, len(text) AS n_chars FROM cd
WHERE doc_id NOT IN (SELECT doc_id FROM dups)
ORDER BY doc_id
"""


@query("pretraining_corpus", oracle=_PRETRAIN_ORACLE)
def _pretraining_corpus(spark, sf_dir):
    """Flagship LLM-data composition (operators/corpus.py): quality
    cascade -> exact dedup -> MinHash near-dup components, one lazy
    plan, each stage a keyed semi/anti join."""
    from ffi_etl_spark.operators.corpus import pretraining_corpus

    return pretraining_corpus(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# interval-overlap join: concurrent sessions
# ---------------------------------------------------------------------------

@query(
    "concurrent_sessions",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) + 1 AS session_id
  FROM o
), sess AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY 1, 2
), overl AS (
  SELECT a.user_id, a.session_id, COUNT(*) AS n
  FROM sess a JOIN sess b
    ON a.session_start <= b.session_end AND b.session_start <= a.session_end
   AND a.user_id <> b.user_id
  GROUP BY 1, 2
)
SELECT sess.user_id, CAST(sess.session_id AS BIGINT) AS session_id, COALESCE(overl.n, 0) AS n_concurrent
FROM sess LEFT JOIN overl USING (user_id, session_id)
ORDER BY user_id, session_id
""",
)
def _concurrent_sessions(spark, sf_dir):
    """Interval-overlap self-join (operators/olap.py::
    interval_overlap_join): per session, how many OTHER users' sessions
    overlap it in time. The bin-explode + canonical-shared-bin join
    turns the theta (overlap) predicate into a duplicate-free equi-join
    — the generalization of the binned range join to intervals; the
    oracle runs DuckDB's native IEJoin over the same session set."""
    from ffi_etl_spark.operators.olap import interval_overlap_join
    from ffi_etl_spark.operators.windows import sessionize

    sess = sessionize(table(spark, sf_dir, "events")).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    a = sess.select(
        F.col("user_id").alias("a_user"),
        F.col("session_id").alias("a_session"),
        F.col("session_start").alias("a_start"),
        F.col("session_end").alias("a_end"),
    )
    b = sess.select(
        F.col("user_id").alias("b_user"),
        F.col("session_start").alias("b_start"),
        F.col("session_end").alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end",
        bin_seconds=3600,
        cond=F.col("a_user") != F.col("b_user"),
    )
    counts = pairs.groupBy("a_user", "a_session").agg(F.count(F.lit(1)).alias("n"))
    return (
        sess.join(
            counts,
            (F.col("user_id") == F.col("a_user")) & (F.col("session_id") == F.col("a_session")),
            "left_outer",
        )
        .select(
            "user_id",
            "session_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_concurrent"),
        )
        .orderBy("user_id", "session_id")
    )


_KMEANS_K, _KMEANS_ROUNDS = 5, 3

_KMEANS_ORACLE = f"""
WITH {kmeans_det_cte(_KMEANS_K, _KMEANS_ROUNDS)}
SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(vec_id) AS first_member
FROM a{_KMEANS_ROUNDS} GROUP BY centroid_id ORDER BY centroid_id
"""


@query("kmeans_clusters", oracle=_KMEANS_ORACLE)
def _kmeans_clusters(spark, sf_dir):
    """Spherical k-means, 3 Lloyd rounds at k=5 over the embeddings
    table, reported as the per-cluster profile — run in the
    integer-centroid deterministic mode (``quantize_bits=20``) so the
    iteration is bit-stable and fully oracle-gradeable via the
    unrolled CTE chain (upgraded from rows-only, VERDICT r04). The
    float-mean production mode keeps its numpy stepwise differential
    in tests/test_similarity_kmeans.py."""
    from ffi_etl_spark.operators.similarity import kmeans_cluster_profile, kmeans_lloyd

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(
        kmeans_lloyd(emb, k=_KMEANS_K, n_iter=_KMEANS_ROUNDS, quantize_bits=20)
    )


_TRIANGLES_ORACLE = f"""
WITH p AS ({_ANN_ORACLE})
SELECT e1.id_a AS v1, e1.id_b AS v2, e2.id_b AS v3
FROM p e1
JOIN p e2 ON e1.id_b = e2.id_a
JOIN p e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b
ORDER BY v1, v2, v3
"""


@query("graph_triangles", oracle=_TRIANGLES_ORACLE)
def _graph_triangles(spark, sf_dir):
    """Triangles of the embedding near-dup graph (operators/graph.py::
    triangle_enum over ann_sign_lsh_pairs edges) — one oriented 3-way
    self-join, no dedup pass needed."""
    from ffi_etl_spark.operators.graph import triangle_enum

    pairs = ann_sign_lsh_pairs(table(spark, sf_dir, "embeddings"), bits=8, threshold=0.15)
    return triangle_enum(pairs).orderBy("v1", "v2", "v3")
