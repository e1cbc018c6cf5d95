r"""Round-8 gated queries: the ``dsir_budget_selection`` bisection probes.

VERDICT r07 item 1: the composed query has been driver-red two rounds
running (hash-only, rows 186 = 186, schema ok, green locally at both
gate SFs) and the round-7 ``global_cumsum_exclusive`` determinism fix
demonstrably did not clear it. Root-cause candidate found THIS round by
sweeping every gated oracle's DuckDB output types: ``cum_tokens`` was
the registry's ONLY integer-on-Spark / HUGEINT-on-DuckDB output column
(``off + ntok`` where ``off`` is an uncast windowed ``SUM`` —
a violation of the standing "no bare integer SUM in oracles" rule).
HUGEINT surfaces through ``rel.df()`` as float64, so a driver
canonicalizer that stringifies float64 ``94.0`` differently from Spark's
int64 ``94`` mismatches EVERY row while row count and column names stay
green — the exact observed signature — and the local replica's ``%g``
float formatting collapses ``94.0`` to ``"94"``, which is exactly why
the red never reproduced here. It also explains the green
``dsir_importance`` in the same r06 window: all ITS outputs are CAST AS
BIGINT. The composed oracle is fixed in fam_textsel.py (ex-round5b.py); tools/check_oracle.py
now fails on any int-vs-float dtype-kind disagreement so this class
cannot pass the local gate again.

The three probes below still land (per the VERDICT bisection plan): if
the CAST theory is right, all three AND the composed query grade green
in r08; if the composed query stays red, whichever probe reds names the
diverging stage with no further guessing:

* ``dsir_budget_inputs``  — the pre-cumsum join (doc_id, weight_q, ntok):
  isolates ``dsir_importance`` ⋈ whitespace token counts.
* ``dsir_budget_offsets`` — the full (doc_id, off) table out of
  ``global_cumsum_exclusive``: isolates the rank-order cumsum.
* ``dsir_budget_cutpoints`` — the probe's cutpoint tuples as rows:
  isolates ``_order_cutpoints`` (operators/textops.py:493).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import DSIR_ORACLE

# Shared CTE text: whitespace token counts per document — identical to
# the composed dsir_budget_selection oracle's tk CTE (fam_textsel.py).
_TK_CTE = r"""tk AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
  FROM documents
)"""


def _budget_frames(spark, sf_dir):
    """The composed query's building blocks, shared by all probes so a
    probe red indicts the production code path, not a probe-only copy."""
    docs = table(spark, sf_dir, "documents")
    from ffi_etl_spark.operators.textops import dsir_importance

    w = dsir_importance(docs, F.col("lang") == "en").select("doc_id", "weight_q")
    tk = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ntok"),
    )
    return w, tk


@query(
    "dsir_budget_inputs",
    oracle=rf"""
WITH w AS ({DSIR_ORACLE}
), {_TK_CTE}
SELECT w.doc_id, w.weight_q, tk.ntok
FROM w JOIN tk USING (doc_id)
""",
)
def _dsir_budget_inputs(spark, sf_dir):
    """Bisection probe (a): the pre-cumsum join feeding
    dsir_budget_selection — importance weights ⋈ token counts, all
    BIGINT. A red here means the divergence is already present in
    ``dsir_importance`` (ln-straddle on the driver host) or the token
    counts; a green localizes the fault downstream of this join."""
    w, tk = _budget_frames(spark, sf_dir)
    return w.join(tk, "doc_id").select("doc_id", "weight_q", "ntok")


@query(
    "dsir_budget_offsets",
    oracle=rf"""
WITH w AS ({DSIR_ORACLE}
), {_TK_CTE}
SELECT w.doc_id,
       CAST(COALESCE(SUM(tk.ntok) OVER (
         ORDER BY w.weight_q DESC, w.doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
FROM w JOIN tk USING (doc_id)
""",
)
def _dsir_budget_offsets(spark, sf_dir):
    """Bisection probe (b): the full exclusive-prefix table out of
    ``global_cumsum_exclusive`` over (weight_q DESC, doc_id) — every
    document's offset, not just the kept ones. Inputs green + this red
    means the cumsum machinery itself diverges on the driver host; the
    windowed SUM is CAST AS BIGINT on the oracle side (HUGEINT rule)."""
    w, tk = _budget_frames(spark, sf_dir)
    from ffi_etl_spark.operators.textops import global_cumsum_exclusive

    sel = w.join(tk, "doc_id").withColumn("negw", -F.col("weight_q"))
    off = global_cumsum_exclusive(sel, ["negw", "doc_id"], "ntok", "off")
    return off.select("doc_id", "off")


# sample_n for the cutpoints probe: must be >= the corpus at every gate
# SF (500 at sf0.01, 5000 at sf0.1) so the deterministic xxhash64
# subsample degenerates to the FULL key set, which is what the DuckDB
# side below replays (DuckDB has no Spark-compatible xxhash64). At the
# driver-graded SF (0.01) this coincides exactly with the production
# default (4096 >= 500), so the probe exercises the production
# cutpoints; at sf0.1 it checks the same code path on the full table.
_CUTPOINT_SAMPLE_N = 8192
_CUTPOINT_RANGES = 32  # global_cumsum_exclusive's num_ranges default


@query(
    "dsir_budget_cutpoints",
    oracle=rf"""
WITH w AS ({DSIR_ORACLE}
), {_TK_CTE}
, j AS (
  SELECT CAST(-w.weight_q AS BIGINT) AS negw, w.doc_id
  FROM w JOIN tk USING (doc_id)
), ordered AS (
  SELECT negw, doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY negw, doc_id) - 1 AS BIGINT) AS rn
  FROM j
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j
), idxs AS (
  SELECT DISTINCT CAST((r.i * nn.n) // {_CUTPOINT_RANGES} AS BIGINT) AS rn
  FROM range(1, {_CUTPOINT_RANGES}) r(i), nn
  WHERE (r.i * nn.n) // {_CUTPOINT_RANGES} > 0
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o.rn) AS BIGINT) AS cut_rank,
       o.negw, o.doc_id
FROM idxs JOIN ordered o USING (rn)
""",
)
def _dsir_budget_cutpoints(spark, sf_dir):
    """Bisection probe (c): the deterministic range cutpoints
    ``_order_cutpoints`` picks over the (negw, doc_id) key — the values
    that decide every row's ``_pid`` bucket in the cumsum. The oracle
    replays the selection exactly: rank the full key set, take the
    evenly spaced elements at (i·n)//32 for i in 1..31 (idx 0 excluded,
    duplicates collapsed — with n >= 32 unique keys the indexes are
    strictly increasing, so DISTINCT is the same dedup the Python loop
    does). Inputs+offsets green with this red would mean the probe's
    collect sees a different frame on the driver host."""
    w, tk = _budget_frames(spark, sf_dir)
    from ffi_etl_spark.operators.textops import _order_cutpoints

    sel = w.join(tk, "doc_id").withColumn("negw", -F.col("weight_q"))
    cuts = _order_cutpoints(
        sel, ["negw", "doc_id"], _CUTPOINT_RANGES, sample_n=_CUTPOINT_SAMPLE_N
    )
    rows = [(i + 1, int(c[0]), int(c[1])) for i, c in enumerate(cuts)]
    # one slice: 31 rows across 32 default slices made the final count
    # a 32-task job (round 13, the _materialize_k_rows rule)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        schema="cut_rank long, negw long, doc_id long",
    )
