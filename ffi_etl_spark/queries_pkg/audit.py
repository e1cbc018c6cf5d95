"""Temporal-audit queries: exact rolling distinct users, Markov
transition matrix, referential-integrity audit.

Rolling COUNT(DISTINCT) is the one window aggregate Spark (and SQL)
cannot express directly — ``COUNT(DISTINCT) OVER (RANGE ...)`` is
unsupported — so ``rolling_distinct_users`` lowers it to an exact
interval-merge + difference-array plan instead of the quadratic
day×activity range join the oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import minhash_pairs_cte


# --- exact rolling 7-day distinct users ---------------------------------------

@query(
    "rolling_distinct_users",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM activity)
SELECT d.day, COUNT(DISTINCT a.user_id) AS rolling_users
FROM days d JOIN activity a ON a.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
ORDER BY d.day
""",
)
def _rolling_distinct_users(spark, sf_dir):
    """Exact trailing-7-day distinct users for every active day,
    WITHOUT the O(days × activity) range join the oracle uses.

    A user is counted on day d iff they were active in [d-6, d] —
    i.e. iff d falls in the union of per-activity intervals
    [day, day+6]. So: (1) dedup to (user, day); (2) gaps-and-islands
    per user merges overlapping intervals (gap ≤ 6 chains); (3) each
    merged interval emits +1 at start and -1 past end; (4) a running
    sum over the K distinct days evaluates the interval-stabbing count.

    Everything heavy is keyed by ``user_id`` (one shuffle, reused by
    the dedup, the island window, and the interval agg); the final
    cumsum runs over K post-agg calendar days — the documented K-row
    global-window pattern, NOT a window over facts."""
    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()

    w = Window.partitionBy("user_id").orderBy("day")
    islands = (
        activity.withColumn("gap", F.datediff("day", F.lag("day").over(w)))
        .withColumn(
            "new_island",
            F.when(F.col("gap").isNull() | (F.col("gap") > 6), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    intervals = islands.groupBy("user_id", "island").agg(
        F.min("day").alias("start"),
        F.date_add(F.max("day"), 6).alias("end"),
    )
    deltas = (
        intervals.select(F.col("start").alias("day"), F.lit(1).alias("delta"))
        .unionByName(
            intervals.select(
                F.date_add("end", 1).alias("day"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("delta"))
    )
    qdays = activity.select("day").distinct().withColumn("delta", F.lit(0))
    merged = (
        deltas.unionByName(qdays).groupBy("day").agg(F.sum("delta").alias("delta"))
    )
    counts = merged.withColumn(
        "rolling_users",
        F.sum("delta").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        counts.join(qdays.select("day"), "day")
        .select("day", "rolling_users")
        .orderBy("day")
    )


# --- Markov transition matrix over event sequences ----------------------------

@query(
    "markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (
  SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
FROM pairs
ORDER BY src, dst
""",
)
def _markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (ties broken by ``event_id``): bigram via per-key LEAD,
    hash-agg to S² pair counts, row-normalize with a window over the
    tiny S² frame. The probability is a ratio of two exact integer
    counts cast to double — bit-identical across engines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "src",
        "dst",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("src")).cast("double")
        ).alias("p"),
    ).orderBy("src", "dst")


# --- referential-integrity audit ----------------------------------------------

_FK_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    selects = []
    for child, fk, parent, pk in _FK_EDGES:
        selects.append(
            f"SELECT '{child}.{fk}->{parent}.{pk}' AS edge,"
            f" (SELECT COUNT(*) FROM {child}) AS n_child,"
            f" (SELECT COUNT(*) FROM {child} c"
            f"  WHERE c.{fk} IS NOT NULL"
            f"    AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"
            f" ) AS n_orphans"
        )
    return "\nUNION ALL ".join(selects) + "\nORDER BY edge"


@query("fk_integrity_audit", oracle=_fk_oracle())
def _fk_integrity_audit(spark, sf_dir):
    """Post-ingest referential-integrity sweep: for every declared FK
    edge, count child rows whose non-null key has no parent (left-anti
    join). Parents are dimension-sized, so every probe broadcasts —
    the whole audit is map-side against each fact scan, no shuffle of
    any fact table. The reference engine's pipelines assume intact
    keys and silently drop on merge (SURVEY.md §2 J1/J2); this makes
    the assumption a measured gate instead."""
    frames = []
    for child, fk, parent, pk in _FK_EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent)
        orphans = (
            c.where(F.col(fk).isNotNull())
            .join(F.broadcast(p), c[fk] == p[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        total = c.agg(F.count(F.lit(1)).alias("n_child"))
        frames.append(
            total.join(orphans)
            .select(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                "n_child",
                "n_orphans",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# --- near-dup graph centrality ------------------------------------------------


# One constant ties the engine call and the oracle unroll together.
_PR_ROUNDS = 10


def _pagerank_oracle(n_iter: int = _PR_ROUNDS, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as a DuckDB CTE chain over the
    MinHash pair graph — upgrading the former rows-only gate to a full
    differential oracle. Legal because (a) the iteration count is
    pinned (engine called with ``tol=0.0`` so it never early-exits),
    (b) the symmetrized pair graph has no dangling vertices (every
    vertex has out-degree ≥ 1, so the engine's dangling term is
    exactly +0.0 every round), and (c) the output leaves as %.6e
    fixed-precision strings on both engines (partition-order float
    accumulation rule, TODO.md). The arithmetic mirrors
    operators/graph.py::pagerank term by term: rank' =
    (1.0-d)/n + d * COALESCE(sum(rank/deg), 0.0).

    Accepted residual flake (ADVICE r04): %.6e absorbs the engines'
    ~1e-13 relative accumulation drift EXCEPT when a rank lands within
    that drift of a 7-significant-digit rounding boundary, where the
    formatted strings can differ by one final digit. Per value that is
    a ~2·(1e-13/1e-7) ≈ 2e-6 event; across the ~200 testdata vertices,
    ~4e-4 per grading — and it is DATA-dependent, not run-dependent
    (the drift is fixed for a fixed partitioning), so the local gate at
    the driver's SF catches it before the driver does. A tolerance-
    aware canonicalizer would need driver cooperation the harness
    doesn't offer; this note quantifies the risk instead (same budget
    applies to token_entropy's %.6e column)."""

    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f"""r{k} AS (
  SELECT d.a AS vertex,
         (1.0 - {damping}) / nv.n + {damping} * COALESCE(s.c, 0.0) AS pr
  FROM deg d CROSS JOIN nv
  LEFT JOIN (
    SELECT e.b AS v, SUM(r.pr / dg.deg) AS c
    FROM edges e
    JOIN r{k - 1} r ON r.vertex = e.a
    JOIN deg dg ON dg.a = e.a
    GROUP BY e.b
  ) s ON s.v = d.a
)""")
    chain = ",\n".join(steps)
    return f"""
WITH {minhash_pairs_cte()}, pr_pairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard_sim >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pr_pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pr_pairs
), deg AS (
  SELECT a, COUNT(*) AS deg FROM edges GROUP BY a
), nv AS (
  SELECT COUNT(*) AS n FROM deg
), r0 AS (
  SELECT a AS vertex, 1.0 / n AS pr FROM deg CROSS JOIN nv
),
{chain}
SELECT vertex, printf('%.6e', pr) AS rank_s FROM r{n_iter} ORDER BY vertex
"""


@query("pagerank_centrality", oracle=_pagerank_oracle())
def _pagerank_centrality(spark, sf_dir):
    """PageRank over the MinHash near-dup pair graph (undirected):
    high-rank documents sit in dense mirror/template clusters — the
    triage order for manual review of a dedup run.

    Upgraded from rows-only to a FULL oracle: with the iteration count
    pinned (``tol=0.0`` — exactly 10 power-iteration rounds, no
    data-dependent early exit) the computation is a finite arithmetic
    circuit, expressible as 10 unrolled SQL stages. The symmetrized
    pair graph has no dangling vertices, so the engine's dangling term
    is +0.0 every round and drops out of the parity argument. Ranks
    leave as %.6e strings both sides (merge-order float drift ~1e-13
    relative sits far below the 7th significant figure). The
    dense-numpy differential in
    test_properties.py::test_pagerank_matches_numpy still covers the
    dangling/convergence paths the oracle pins away."""
    from pyspark.sql import functions as F

    from ffi_etl_spark.operators.dedup import dedup_minhash_lsh
    from ffi_etl_spark.operators.graph import pagerank

    pairs = dedup_minhash_lsh(table(spark, sf_dir, "documents"))
    ranks = pagerank(pairs, undirected=True, max_iter=_PR_ROUNDS, tol=0.0)
    return ranks.select(
        "vertex", F.format_string("%.6e", F.col("rank")).alias("rank_s")
    ).orderBy("vertex")


# --- cross-document duplicated-span profile ----------------------------------

@query(
    "dup_span_profile",
    oracle=r"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest([
           ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 7, 1))
         ]) AS g
  FROM toked
), docfreq AS (
  SELECT g, COUNT(*) AS d FROM grams GROUP BY g
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM grams JOIN docfreq USING (g)
GROUP BY doc_id
""",
)
def _dup_span_profile(spark, sf_dir):
    """operators/textops.py::dup_span_profile over documents (token
    8-gram cross-doc duplication — the Lee-et-al-style span-dedup
    signal)."""
    from ffi_etl_spark.operators.textops import dup_span_profile

    return dup_span_profile(table(spark, sf_dir, "documents"))


# --- inverted index (retrieval spine) ----------------------------------------

@query(
    "inverted_index",
    oracle=r"""
WITH pairs AS (
  SELECT DISTINCT doc_id AS doc,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
)
SELECT term, COUNT(*) AS df,
       array_to_string(list_sort(list(doc))[1:1000], ',') AS postings
FROM pairs WHERE term <> ''
GROUP BY term
HAVING COUNT(*) >= 2
""",
)
def _inverted_index(spark, sf_dir):
    """operators/textops.py::inverted_index over documents (term df +
    capped sorted posting lists)."""
    from ffi_etl_spark.operators.textops import inverted_index

    return inverted_index(table(spark, sf_dir, "documents"))


# --- cross-source n-gram overlap matrix --------------------------------------

@query(
    "source_ngram_overlap",
    oracle=r"""
WITH toked AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sg AS (
  SELECT DISTINCT source,
         unnest([
           ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT
           for i in generate_series(1, greatest(len(toks) - 2, 1))
         ]) AS g
  FROM toked
), sizes AS (
  SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       sa.n_grams AS n_a, sb.n_grams AS n_b,
       CAST(n_shared AS DOUBLE) / least(sa.n_grams, sb.n_grams) AS overlap_coef
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
""",
)
def _source_ngram_overlap(spark, sf_dir):
    """operators/textops.py::source_ngram_overlap over documents
    (train/train contamination matrix, word 3-grams)."""
    from ffi_etl_spark.operators.textops import source_ngram_overlap

    return source_ngram_overlap(table(spark, sf_dir, "documents"))


# --- snapshot diff: what changed between two corpus versions ------------------

_DIFF_V2 = """
  SELECT doc_id,
         CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new doc ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 101 = 0
"""


@query(
    "dataset_diff",
    oracle=f"""
WITH v2 AS ({_DIFF_V2}),
h1 AS (SELECT doc_id, md5(text) AS h FROM documents),
h2 AS (SELECT doc_id, md5(text) AS h FROM v2),
j AS (
  SELECT COALESCE(h1.doc_id, h2.doc_id) AS doc_id,
         CASE WHEN h1.doc_id IS NULL THEN 'added'
              WHEN h2.doc_id IS NULL THEN 'removed'
              WHEN h1.h <> h2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
)
SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM j GROUP BY status
""",
)
def _dataset_diff(spark, sf_dir):
    """Snapshot-diff audit between two corpus versions: full-outer join
    on the doc key comparing content hashes, classifying every doc as
    added / removed / changed / unchanged — the validation report an
    incremental ingest emits before promoting a new snapshot (v2 here
    is a deterministic synthetic revision of the documents table:
    ~1/97 deleted, ~1/89 edited, ~1/101 inserted under new ids).

    Scale shape: both sides reduce to (key, hash) BEFORE the join —
    the full-outer shuffles two narrow columns, never document bodies;
    the status classification and count roll-up are codegen'd
    expressions over the join output."""
    d = table(spark, sf_dir, "documents")
    v1 = d.select("doc_id", F.md5("text").alias("h1"))
    v2_rows = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2_new = d.filter(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    v2 = v2_rows.unionByName(v2_new).select("doc_id", F.md5("text").alias("h2"))
    joined = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )
