r"""Round-9 gated queries: the domain-curation family (VERDICT r08
item 2 — the C4/RefinedWeb axis the pipeline lacked).

Doc-level quality gates, source-level mixtures and split governance
exist; these queries govern the DOMAIN axis over ``documents.source``:

* ``domain_cap_sample``      — per-domain deterministic document cap
  (md5-rank ≤ cap over a domain-keyed window; WindowGroupLimit plans a
  partial per-task top-k before the shuffle).
* ``domain_blocklist_filter`` — survivors-by-domain after dropping
  domains whose short-document share exceeds a threshold (derived
  blocklist → broadcast anti join).
* ``domain_token_cap``       — per-domain TOKEN budget: the greedy
  md5-ordered prefix whose whitespace-token total fits the budget,
  with the document cap as a lossless WindowGroupLimit pre-prune
  (every doc has ≥1 token, so the kept prefix is ≤ budget docs).
* ``domain_mix_report``      — per-domain doc/token counts, token
  share, and cumulative share down the ranking (exact-integer sums,
  divided once — no running float accumulation to drift across
  engines).

All four are full-oracle: the md5 rank key, the short-doc rule and the
whitespace token split are spelled identically in Spark and DuckDB, and
every SUM-derived integer is CAST AS BIGINT on the DuckDB side (the
standing HUGEINT rule, locked by tests/test_oracle_types.py).
"""

from __future__ import annotations

from ffi_etl_spark.catalog import table
from ffi_etl_spark.operators.domains import (
    domain_blocklist_filter,
    domain_cap,
    domain_mix_report,
    domain_token_cap,
    short_doc_domains,
)
from ffi_etl_spark.queries_pkg import query

_CAP = 10

_DOMAIN_CAP_ORACLE = f"""
SELECT doc_id, source, domain_rank
FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS domain_rank
  FROM documents
)
WHERE domain_rank <= {_CAP}
"""


@query("domain_cap_sample", oracle=_DOMAIN_CAP_ORACLE)
def _domain_cap_sample(spark, sf_dir):
    """Per-domain document cap: no host contributes more than _CAP docs
    to the release, and the keep-set is a deterministic uniform sample
    (md5-of-id rank) so the cut reproduces bit-for-bit on any engine —
    the C4/RefinedWeb anti-domination move (operators/domains.py)."""
    d = table(spark, sf_dir, "documents")
    return domain_cap(d, cap=_CAP).select("doc_id", "source", "domain_rank")


_BLOCKLIST_ORACLE = """
WITH short_share AS (
  SELECT source,
         avg(CASE WHEN n_chars < 200 THEN 1.0 ELSE 0.0 END) AS short_share
  FROM documents GROUP BY source
), blocked AS (
  SELECT source FROM short_share WHERE short_share > 0.3
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d ANTI JOIN blocked b ON d.source = b.source
GROUP BY d.source
"""


@query("domain_blocklist_filter", oracle=_BLOCKLIST_ORACLE)
def _domain_blocklist_filter(spark, sf_dir):
    """Blocklist filtering with a DERIVED blocklist: domains whose
    short-document share exceeds 30% (the stat-based boilerplate-farm
    heuristic) are dropped via broadcast anti join; the output is the
    surviving per-domain doc counts — blocked domains are absent rows,
    which is also what makes the result stable to grade."""
    import pyspark.sql.functions as F

    d = table(spark, sf_dir, "documents")
    bl = short_doc_domains(d, short_chars=200, max_short_share=0.3).select("source")
    return domain_blocklist_filter(d, bl).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_TOKEN_BUDGET = 800

_TOKEN_CAP_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY rk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_excl
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_excl + n_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_excl + n_tokens <= {_TOKEN_BUDGET}
"""


@query("domain_token_cap", oracle=_TOKEN_CAP_ORACLE)
def _domain_token_cap(spark, sf_dir):
    """Per-domain token budget (operators/domains.py::domain_token_cap):
    greedy md5-ordered prefix whose whitespace-token total fits the
    budget — the unit pretraining mixes are specified in. The engine
    side pre-prunes losslessly with the document cap (WindowGroupLimit
    two-phase top-k) before the exact integer cumsum; the oracle runs
    the plain cumsum, same keep set."""
    d = table(spark, sf_dir, "documents")
    return domain_token_cap(d, token_budget=_TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


_MIX_ORACLE = r"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       CAST(ROW_NUMBER() OVER w AS INT) AS mix_rank,
       CAST(n_tokens AS DOUBLE)
         / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share,
       CAST(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS cum_token_share
FROM per
WINDOW w AS (ORDER BY n_tokens DESC, source)
"""


@query("domain_mix_report", oracle=_MIX_ORACLE)
def _domain_mix_report(spark, sf_dir):
    """The domain-mixture table a dataset card publishes: doc/token
    counts, token share, cumulative share down the ranking. Integer
    sums divide ONCE at the end — shares match DuckDB to the last bit
    because nothing accumulates in floating point."""
    return domain_mix_report(table(spark, sf_dir, "documents"))

