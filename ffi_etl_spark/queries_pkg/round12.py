"""Round-12 gated queries: product quantization (PQ) — the
compression tier past scalar quantization.

``operators/quantize.py::pq_train_encode`` / ``pq_adc_topk`` run PQ
entirely in exact integer arithmetic (fixed-point floored-mean
centroids, integer squared-L2 assignment and ADC), so the WHOLE
program — per-dimension SQ codebook, subspace split, two Lloyd rounds
per subspace, encoding, the per-probe look-up table, and the
asymmetric-distance ranking — replays bit-for-bit as one DuckDB CTE
chain. A training bug, a fixed-point bug, an argmin tie bug, or an
ADC-sum bug each fails the hash, not a recall curve.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import (
    AUTOK_BITS,
    AUTOK_CELLS,
    AUTOK_ROUNDS,
    FRACPROBE,
    FRACPROBE_RK,
    ivf_model_cte,
    nearest_cells_cte,
    sq_codes_cte,
)

_PQ_SLICE = 500
_PQ_DIM = 64
_PQ_M = 8        # subspaces of 8 dims each
_PQ_KSUB = 16    # 4-bit subcentroid ids
_PQ_ROUNDS = 2
_PQ_QMOD = 25    # 20 probe vectors
_PQ_K = 10


def _pq_train_cte(prefix: str = "") -> str:
    """(sub, {prefix}a0, {prefix}c1, {prefix}a1, ...): the SQ codes split
    into subspaces and the per-subspace Lloyd chains over them —
    floored fixed-point means, integer L2 argmin with ties to the
    lower cid. ``prefix`` keeps the chain's names apart from another
    Lloyd chain in the same WITH clause."""
    d_sub = _PQ_DIM // _PQ_M
    steps = []
    prev = f"{prefix}a0"
    for r in range(1, _PQ_ROUNDS + 1):
        steps.append(f"""{prefix}c{r} AS (
  SELECT j, cid, p, CAST(FLOOR(SUM(code) * 1024.0 / COUNT(*)) AS BIGINT) AS cent
  FROM sub JOIN {prev} USING (vec_id, j)
  GROUP BY j, cid, p
), {prefix}a{r} AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rk
    FROM (
      SELECT s.vec_id, s.j, c.cid,
             SUM((s.code * 1024 - c.cent) * (s.code * 1024 - c.cent)) AS d2
      FROM sub s JOIN {prefix}c{r} c ON c.j = s.j AND c.p = s.p
      GROUP BY s.vec_id, s.j, c.cid
    )
  ) WHERE rk = 1
)""")
        prev = f"{prefix}a{r}"
    chain = ",\n".join(steps)
    return f"""sub AS (
  SELECT vec_id, CAST((i - 1) // {d_sub} AS INT) AS j,
         (i - 1) % {d_sub} AS p, code
  FROM codes
), {prefix}a0 AS (
  SELECT DISTINCT vec_id, j, CAST(vec_id % {_PQ_KSUB} AS INT) AS cid FROM sub
),
{chain}"""


def _pq_adc_oracle(tail: str | None = None) -> str:
    """Replay the exact PQ program: SQ codes over the slice, m
    per-subspace Lloyd chains, the probe LUT against the final
    codebooks, and the ADC sum — every value a BIGINT. ``tail`` (the
    re-rank gate) continues past the ADC ranking; None closes with the
    ADC top-k select."""
    if tail is None:
        tail = f"""
SELECT query_id, neighbor_id, adc_d2, rank::INT AS rank
FROM ranked WHERE rank <= {_PQ_K}"""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {_PQ_SLICE}
), {sq_codes_cte(dim=_PQ_DIM)}, {_pq_train_cte()},
lut AS (
  SELECT s.vec_id AS qid, s.j, c.cid,
         SUM((s.code * 1024 - c.cent) * (s.code * 1024 - c.cent)) AS d2
  FROM sub s JOIN c{_PQ_ROUNDS} c ON c.j = s.j AND c.p = s.p
  WHERE s.vec_id % {_PQ_QMOD} = 0
  GROUP BY s.vec_id, s.j, c.cid
), scored AS (
  SELECT l.qid AS query_id, a.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM a{_PQ_ROUNDS} a JOIN lut l ON l.j = a.j AND l.cid = a.cid
  WHERE a.vec_id <> l.qid
  GROUP BY l.qid, a.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
){tail}
"""


_PQ_RERANK = 4


def _pq_rerank_tail() -> str:
    """The re-rank continuation: ADC shortlist of rerank_factor·k,
    exact 64-term integer d2 over the full SQ codes, final rank."""
    return f""", short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {_PQ_RERANK * _PQ_K}
), rr AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(SUM((cq.code - cn.code) * (cq.code - cn.code)) AS BIGINT)
           AS code_d2
  FROM short s
  JOIN codes cn ON cn.vec_id = s.neighbor_id
  JOIN codes cq ON cq.vec_id = s.query_id AND cq.i = cn.i
  GROUP BY s.query_id, s.neighbor_id
), rranked AS (
  SELECT query_id, neighbor_id, code_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY code_d2 ASC, neighbor_id ASC) AS rank
  FROM rr
)
SELECT query_id, neighbor_id, code_d2, rank::INT AS rank
FROM rranked WHERE rank <= {_PQ_K}"""


@query("pq_adc_topk", oracle=_pq_adc_oracle())
def _pq_adc_topk(spark, sf_dir):
    """Product-quantized ADC top-k end to end
    (operators/quantize.py::pq_train_encode + pq_adc_topk): SQ-code
    the slice, train 16 subcentroids per 8-dim subspace with two
    exact-integer Lloyd rounds, encode every vector as 8 subcentroid
    ids (16× less candidate storage than SQ, 64× less than float),
    then rank by asymmetric distance — per candidate, 8 LUT lookups +
    an 8-term integer sum instead of a 64-term fold. The oracle
    replays the whole program; the gate's exactness claim is the
    fixed-point/argmin/ADC machinery, while the recall-for-compression
    trade is pytest-locked against exact code-space kNN
    (tests/test_round12.py)."""
    from ffi_etl_spark.operators.quantize import (
        pq_adc_topk,
        pq_train_encode,
        quantize_codes_long,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _PQ_SLICE)
    # one SQ pass feeds training, encoding, and the probe LUTs
    codes = quantize_codes_long(emb).localCheckpoint(eager=True)
    codebooks, encoded = pq_train_encode(
        codes, dim=_PQ_DIM, m=_PQ_M, k_sub=_PQ_KSUB, n_iter=_PQ_ROUNDS
    )
    probes = list(range(0, _PQ_SLICE, _PQ_QMOD))
    return pq_adc_topk(
        codebooks, encoded, codes, probes, k=_PQ_K, dim=_PQ_DIM, m=_PQ_M
    ).select(
        F.col("pid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("adc_d2"),
        F.col("rk").alias("rank"),
    )


@query("pq_adc_rerank", oracle=_pq_adc_oracle(_pq_rerank_tail()))
def _pq_adc_rerank(spark, sf_dir):
    """ADC shortlist + exact code-space re-rank
    (operators/quantize.py::pq_adc_rerank_topk) — the int8 IVF tier's
    recall-recovery pattern applied to PQ: the cheap asymmetric pass
    keeps rerank_factor·k candidates per probe, then ONLY those pay
    the exact 64-term integer d2 over the full SQ codes. Still exact
    BIGINT end to end, so the oracle replays shortlist AND re-rank to
    the hash; recall vs exact code-space kNN is pytest-locked (ADC
    alone 0.24 at gate scale, re-ranked ≥0.5 at factor 4)."""
    from ffi_etl_spark.operators.quantize import (
        pq_adc_rerank_topk,
        pq_train_encode,
        quantize_codes_long,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _PQ_SLICE)
    codes = quantize_codes_long(emb).localCheckpoint(eager=True)
    codebooks, encoded = pq_train_encode(
        codes, dim=_PQ_DIM, m=_PQ_M, k_sub=_PQ_KSUB, n_iter=_PQ_ROUNDS
    )
    probes = list(range(0, _PQ_SLICE, _PQ_QMOD))
    return pq_adc_rerank_topk(
        codebooks, encoded, codes, probes,
        k=_PQ_K, rerank_factor=_PQ_RERANK, dim=_PQ_DIM, m=_PQ_M,
    ).select(
        F.col("pid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("code_d2"),
        F.col("rk").alias("rank"),
    )


# -- IVF × PQ: the two tiers composed (the FAISS IVFPQ shape). Shares
# round7's autok cell model (22 cells over the 500-slice, quantized
# deterministic Lloyd) and this module's PQ program; the oracle merges
# the two replayed programs — PQ CTEs carry a p-prefix so the two
# Lloyd chains coexist in one WITH clause.


def _ivfpq_oracle() -> str:
    ca = nearest_cells_cte("ca", ("vec_id AS neighbor_id",))
    qa = nearest_cells_cte("qa", ("vec_id AS query_id",), mod=_PQ_QMOD, rk=FRACPROBE_RK)
    return f"""
WITH {ivf_model_cte(AUTOK_CELLS, _PQ_SLICE)}, {ca}, {qa}, {sq_codes_cte(dim=_PQ_DIM)}, {_pq_train_cte("p")},
plut AS (
  SELECT s.vec_id AS qid, s.j, s.code * 1024 - c.cent AS delta, c.cid
  FROM sub s JOIN pc{_PQ_ROUNDS} c ON c.j = s.j AND c.p = s.p
  WHERE s.vec_id % {_PQ_QMOD} = 0
), lut AS (
  SELECT qid, j, cid, SUM(delta * delta) AS d2
  FROM plut GROUP BY qid, j, cid
), scored AS (
  SELECT qa.query_id, ca.neighbor_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM ca
  JOIN qa USING (centroid_id)
  JOIN pa{_PQ_ROUNDS} a ON a.vec_id = ca.neighbor_id
  JOIN lut l ON l.qid = qa.query_id AND l.j = a.j AND l.cid = a.cid
  WHERE ca.neighbor_id <> qa.query_id
  GROUP BY qa.query_id, ca.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
){_pq_rerank_tail()}
"""


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def _ann_ivfpq_topk(spark, sf_dir):
    """IVF × PQ composed (operators/quantize.py::ann_ivfpq_topk — the
    FAISS IVFPQ shape): the autok cell model bounds WHICH candidates
    are scored (probe_frac=0.1 → 3 of 22 cells per probe, the
    round-11 scale dial) and PQ bounds WHAT a candidate costs (8 LUT
    lookups + an 8-term integer sum), with the exact code-space
    re-rank of the top rerank_factor·k closing the recall gap. The
    oracle merges both replayed programs — the cosine Lloyd chain for
    the cells AND the integer-L2 chains for the subspaces — in one CTE
    graph, so a bug in EITHER tier or in their junction (the
    cell-restricted ADC join) fails the hash."""
    from ffi_etl_spark.operators.quantize import (
        ann_ivfpq_topk,
        pq_train_encode,
        quantize_codes_long,
    )
    from ffi_etl_spark.operators.similarity import ivf_index_tables

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _PQ_SLICE)
    centroids, assignments = ivf_index_tables(
        emb, n_iter=AUTOK_ROUNDS, quantize_bits=AUTOK_BITS
    )
    codes = quantize_codes_long(emb).localCheckpoint(eager=True)
    codebooks, encoded = pq_train_encode(
        codes, dim=_PQ_DIM, m=_PQ_M, k_sub=_PQ_KSUB, n_iter=_PQ_ROUNDS
    )
    probes = list(range(0, _PQ_SLICE, _PQ_QMOD))
    return ann_ivfpq_topk(
        centroids, assignments, codebooks, encoded, codes, probes,
        k=_PQ_K, probe_frac=FRACPROBE, rerank_factor=_PQ_RERANK,
        dim=_PQ_DIM, m=_PQ_M,
    ).select(
        F.col("pid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("code_d2"),
        F.col("rk").alias("rank"),
    )
