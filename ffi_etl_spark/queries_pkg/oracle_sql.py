"""Shared DuckDB oracle SQL: the builders, CTE fragments and pinned gate
constants that more than one registration module uses.

This module registers no query and imports no registration module, so
every registration module can import from it in any order. A fragment
is one ``name AS (...)`` CTE body (or a comma-joined run of them) with
no leading ``WITH`` and no trailing comma; callers splice it into their
own ``WITH`` lists, so the rendered oracles stay byte-for-byte what a
hand-written copy would be.
"""

from __future__ import annotations

from ffi_etl_spark.functions.hashing import MINHASH_PRIME

# ---------------------------------------------------------------------------
# Scalar helpers
# ---------------------------------------------------------------------------

# Cosine as DuckDB's sequential list fold, the same fold the engine's
# cosine uses bit for bit; fill with ``COS.format(a=..., b=...)``.
COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def jround(x: str, n: int, scale: int = 15) -> str:
    """DuckDB replica of Spark F.round (HALF_UP on shortest decimal repr),
    through a DECIMAL(30, ``scale``)."""
    return f"CAST(round(try_cast(CAST(({x}) AS VARCHAR) AS DECIMAL(30,{scale})), {n}) AS DOUBLE)"


# ---------------------------------------------------------------------------
# MinHash-LSH: DuckDB mirror of functions/hashing.py — md5_int32 shingle
# hashes, universal-hash signature, banded keys, verified pairs
# ---------------------------------------------------------------------------


def sig_sql(num_perm: int) -> str:
    """list of MinHash slots over the `hashes` list column."""
    slots = ", ".join(
        f"list_min([ (h * {2 * p + 1} + {7919 * p + 13}) % {MINHASH_PRIME} for h in hashes ])"
        for p in range(num_perm)
    )
    return f"[{slots}]"


def bands_sql(bands: int, rows: int) -> str:
    keys = ", ".join(
        f"array_to_string(sig[{1 + b * rows}:{(b + 1) * rows}], '_')" for b in range(bands)
    )
    return f"[{keys}]"


def minhash_pairs_cte(
    source: str = "documents", num_perm: int = 12, bands: int = 3
) -> str:
    """The MinHash-LSH pair pipeline as a flat CTE list over ``source``
    (must expose doc_id, text) ending in a ``verified`` relation —
    reusable standalone and inside composed oracles. Parametric in the
    signature width and band split so non-default tiers (the adaptive
    chooser's (24, 4, 6) on this corpus — queries_pkg/round7.py) share
    the same bit-exact md5 mirror."""
    rows = num_perm // bands
    return f"""hashed AS (
  SELECT doc_id,
         list_distinct([
           ('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT
           for i in generate_series(1, greatest(len(text) - 4, 1))
         ]) AS hashes
  FROM {source}
), sigs AS (
  SELECT doc_id, hashes, {sig_sql(num_perm)} AS sig FROM hashed
), banded AS (
  SELECT doc_id, hashes, unnest({bands_sql(bands, rows)}) AS band_key,
         unnest(generate_series(0, {bands - 1})) AS band_idx
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
  JOIN hashed ha ON ha.doc_id = p.id_a
  JOIN hashed hb ON hb.doc_id = p.id_b
)"""


MINHASH_ORACLE = f"""
WITH {minhash_pairs_cte()}
SELECT * FROM verified WHERE jaccard_sim >= 0.5
"""

# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_TERMS = ("hash", "spark", "window")


def bm25_cte(terms: tuple[str, ...] = BM25_TERMS) -> str:
    """The BM25 scoring pipeline as a WITH-body ending in ``piv``
    (doc_id, score) — mirrors operators/textops.py::bm25_rank term by
    term (rational idf, exact-integer avgdl, sorted-term-order score
    sum). Shared by the bm25_rank gate and round-5's RRF fusion gate."""
    in_list = ", ".join(f"'{t}'" for t in sorted(terms))
    pieces = "\n         + ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN s END), 0.0)"
        for t in sorted(terms)
    )
    return rf"""toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), corpus AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM dl
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({in_list})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term,
         ((c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((t.tf * (1.2 + 1.0))
              / (t.tf + 1.2 * ((1.0 - 0.75)
                               + (0.75 * l.dl) / (CAST(c.sum_dl AS DOUBLE) / c.n_docs))))
           AS s
  FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id) CROSS JOIN corpus c
), piv AS (
  SELECT doc_id,
         {pieces} AS score
  FROM scored GROUP BY doc_id
)"""


# ---------------------------------------------------------------------------
# DSIR importance weights: hashed-bigram LLR vs a target domain sample
# ---------------------------------------------------------------------------

DSIR_BUCKETS, DSIR_BITS = 64, 20

DSIR_ORACLE = rf"""
WITH toked AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents
), occ AS (
  SELECT doc_id, lang, toks,
         unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i
  FROM toked
), grams AS (
  SELECT doc_id, (lang = 'en') AS t,
         ('0x' || substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
  FROM occ
), stats AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS s_b,
         CAST(COUNT(*) FILTER (WHERE t) AS BIGINT) AS t_b
  FROM grams GROUP BY b
), tot AS (
  SELECT CAST(SUM(s_b) AS BIGINT) AS S, CAST(SUM(t_b) AS BIGINT) AS T FROM stats
), llr AS (
  SELECT b,
         CAST(FLOOR({1 << DSIR_BITS}.0 * (
           ln(CAST(t_b + 1 AS DOUBLE) / (T + {DSIR_BUCKETS}))
           - ln(CAST(s_b + 1 AS DOUBLE) / (S + {DSIR_BUCKETS}))
         )) AS BIGINT) AS llr_q
  FROM stats CROSS JOIN tot
), dbc AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY doc_id, b
)
SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_grams,
       CAST(SUM(d.c * l.llr_q) AS BIGINT) AS weight_q
FROM dbc d JOIN llr l USING (b)
GROUP BY d.doc_id
"""

# ---------------------------------------------------------------------------
# Model evaluation
# ---------------------------------------------------------------------------

# The classification report over ``scored`` = (y, p): per-class
# tp/fp/fn/support from one (label, predicted) count, then precision,
# recall and F1 as single divisions of exact integers
# (operators/inference.py::classification_report). Ends the query.
CONFUSION_REPORT_SQL = """pairs AS (
  SELECT y, p, CAST(COUNT(*) AS BIGINT) AS n FROM scored GROUP BY y, p
), by_true AS (
  SELECT y AS cls, CAST(SUM(n) AS BIGINT) AS support,
         CAST(SUM(CASE WHEN p = y THEN n ELSE 0 END) AS BIGINT) AS tp
  FROM pairs GROUP BY y
), by_pred AS (
  SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM pairs GROUP BY p
), rep AS (
  SELECT COALESCE(t.cls, q.cls) AS cls,
         COALESCE(t.tp, 0) AS tp,
         COALESCE(q.n_pred, 0) - COALESCE(t.tp, 0) AS fp,
         COALESCE(t.support, 0) - COALESCE(t.tp, 0) AS fn,
         COALESCE(t.support, 0) AS support
  FROM by_true t FULL OUTER JOIN by_pred q ON t.cls = q.cls
)
SELECT CAST(cls AS BIGINT) AS cls, CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       CAST(support AS BIGINT) AS support,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       END AS f1
FROM rep
"""

# ---------------------------------------------------------------------------
# Embedding codes: int8 scalar quantization over the whole table
# ---------------------------------------------------------------------------

# (ex, stats, codes): codes = (vec_id, dim, code) with dim 0-based,
# the operators/quantize.py::quantize_embeddings_int8 codebook.
INT8_CODES_CTE = """ex AS (
  SELECT vec_id,
         unnest(embedding::DOUBLE[]) AS x,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings
), stats AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim
), codes AS (
  SELECT vec_id, dim,
         CASE WHEN mx = mn THEN 0
              ELSE CAST(floor(((x - mn) * 255.0) / (mx - mn)) AS INT) END AS code
  FROM ex JOIN stats USING (dim)
)"""


def sq_codes_cte(src: str = "e", dim: int = 64) -> str:
    """(dimstats, codes): the per-dimension min/max codebook fit on
    ``e`` and the clamped uint8 codes of ``src`` under it, codes =
    (vec_id, i, code) with i 1-based — the stored-IVF and PQ codebook
    (operators/quantize.py::quantize_codes_long)."""
    return f"""dimstats AS (
  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
  FROM e CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)
  GROUP BY i
), codes AS (
  SELECT {src}.vec_id, d.i,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE GREATEST(0, LEAST(255,
                CAST(FLOOR(({src}.v[d.i] - d.mn) * 255.0 / (d.mx - d.mn)) AS BIGINT)))
         END AS code
  FROM {src} CROSS JOIN dimstats d
)"""


# ---------------------------------------------------------------------------
# Deterministic k-means and the IVF cell model
# ---------------------------------------------------------------------------


def nearest_cells_cte(
    name: str, cols: tuple[str, ...] = ("vec_id", "v"), cells: str = "cf",
    src: str = "e", mod: int = 0, rk: int = 1,
) -> str:
    """``name`` = (*cols, centroid_id): each vector of ``src`` (vec_id,
    v) with its ``rk`` nearest cells of ``cells`` (centroid_id,
    centroid) by cosine, ties to the lower centroid_id. ``cols`` select
    from (vec_id, v), optionally renamed (``"vec_id AS query_id"``);
    ``mod`` keeps only the vectors with ``vec_id % mod = 0``."""
    inner = "".join(f"{src}.{c.split()[0]}, " for c in cols)
    where = f"\n    WHERE {src}.vec_id % {mod} = 0" if mod else ""
    keep = "= 1" if rk == 1 else f"<= {rk}"
    return f"""{name} AS (
  SELECT {", ".join(cols)}, centroid_id FROM (
    SELECT {inner}c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY {src}.vec_id
             ORDER BY {COS.format(a=f'{src}.v', b='c.centroid')} DESC, c.centroid_id ASC
           ) AS rk
    FROM {src} CROSS JOIN {cells} c{where}
  ) WHERE rk {keep}
)"""


def quantized_centroids_sql(prev: str, scale_bits: int, dim: int) -> str:
    """(centroid_id, centroid): exact integer per-dimension sums of the
    members of ``prev`` at 2^scale_bits fixed point (the body of one
    Lloyd centroid step)."""
    scale = f"{1 << scale_bits}.0"
    return f"""SELECT centroid_id, list(CAST(sx AS DOUBLE) ORDER BY i) AS centroid
  FROM (
    SELECT centroid_id, i, SUM(CAST(FLOOR(v[i] * {scale}) AS BIGINT)) AS sx
    FROM {prev} CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)
    GROUP BY centroid_id, i
  ) GROUP BY centroid_id"""


def kmeans_det_cte(
    k: int, n_iter: int, dim: int = 64, scale_bits: int = 20,
    source: str = "embeddings",
) -> str:
    """Unrolled deterministic-Lloyd CTE chain (the pagerank_centrality
    recipe applied to k-means, VERDICT r04 recipe a): ends in relation
    ``a{n_iter}`` = (vec_id, v, centroid_id). Legal as a differential
    oracle because the engine's ``kmeans_lloyd(quantize_bits=...)``
    mode makes every round bit-stable: centroids are exact integer
    sums (``SUM(FLOOR(x·2^bits))`` — order-independent BIGINT
    arithmetic, no float-mean accumulation drift), cosine is the
    sequential fold both engines share bit-for-bit (the knn/COS
    precedent), and the argmax tie-breaks to the lowest centroid_id on
    both sides — so the iterated assignment is IDENTICAL, not merely
    close."""
    chain = ",\n".join(
        f"c{r} AS (\n  {quantized_centroids_sql(f'a{r - 1}', scale_bits, dim)}\n), "
        + nearest_cells_cte(f"a{r}", cells=f"c{r}")
        for r in range(1, n_iter + 1)
    )
    return f"""e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {source}
), a0 AS (
  SELECT vec_id, v, CAST(vec_id % {k} AS INT) AS centroid_id FROM e
),
{chain}"""


# The self-scaling IVF gates' pins (queries_pkg/round7.py, round12.py).
# Gate slice: the first 500 embeddings — the full table at sf0.001 and
# sf0.01 and a prefix at sf0.1 — so the count probe is CONSTANT at
# every gate SF and the auto-picked cell count (choose_ivf_cells(500)
# = 22) can be pinned in a static oracle, exactly like the adaptive
# minhash split pin. The operator itself scales (cells tracks sqrt(n))
# — the sf1/sf3 ladder measures it on full corpora (BASELINE.md).
AUTOK_SLICE = 500
AUTOK_CELLS = 22  # isqrt(500); pytest-pinned against choose_ivf_cells
AUTOK_ROUNDS = 2
AUTOK_BITS = 20
AUTOK_QMOD = 25  # 20 query vectors

# probe_frac for the fracprobe gates: ceil(0.1 * 22 cells) = 3 probed
# cells — the oracles pin rk <= 3, and test_round11 locks the ceil rule
# itself (effective nprobe grows with the stored cell count).
FRACPROBE = 0.1
FRACPROBE_RK = 3  # ceil(FRACPROBE * AUTOK_CELLS); pytest-pinned

# The append gates train on the first APPEND_BUILD vectors and append
# the rest of the slice against that stored model.
APPEND_BUILD = 400
APPEND_CELLS = 20  # isqrt(400); pytest-pinned against choose_ivf_cells
APPEND_FRACPROBE_RK = 2  # ceil(0.1 * 20)


def ivf_model_cte(cells: int, build: int) -> str:
    """The autok cell model trained on the first ``build`` vectors:
    ``kmeans_det_cte``'s chain (``e`` = that slice) then ``cf`` =
    (centroid_id, centroid), the final quantized centroid step."""
    src = f"(SELECT * FROM embeddings WHERE vec_id < {build})"
    return f"""{kmeans_det_cte(cells, AUTOK_ROUNDS, source=src)},
cf AS (
  {quantized_centroids_sql(f"a{AUTOK_ROUNDS}", AUTOK_BITS, 64)}
)"""
