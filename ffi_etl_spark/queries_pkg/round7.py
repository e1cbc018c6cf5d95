"""Round-7 gated queries (VERDICT r06 items 2 and 5).

1. ``dedup_minhash_adaptive`` — the self-tuning MinHash tier
   (operators/dedup.py::dedup_minhash_adaptive) becomes a full-oracle
   query. It is the engine's answer to its only measured scale cliff
   (BASELINE.md §scaling: default split 21.8× for 10× data on the
   high-ambient synthetic corpus; tuned split 1.4× with the identical
   found set), so the gate must cover the tier users are told to run.
2. Raw-text source roundtrips — ``read_text_lines`` (per-line scan)
   and ``read_text_docs`` (whole-file ingest) are the first-touch
   paths for a real pretraining corpus (reference S1 analogue,
   extract_alchemer_data.py:8-9); each gets the csv_roundtrip/
   json_roundtrip treatment: engine writes, engine reads back, the
   oracle recomputes the same content summary from the parquet truth.
   ``read_avro`` stays pytest-only: the external spark-avro module is
   absent from this container (capability probe in sources/readers.py
   — a gated query would error identically on the driver host).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table
from ffi_etl_spark.functions.hashing import md5_int32
from ffi_etl_spark.queries_pkg import query
from ffi_etl_spark.queries_pkg.oracle_sql import (
    APPEND_BUILD,
    APPEND_CELLS,
    APPEND_FRACPROBE_RK,
    AUTOK_BITS,
    AUTOK_CELLS,
    AUTOK_QMOD,
    AUTOK_ROUNDS,
    AUTOK_SLICE,
    COS,
    FRACPROBE,
    FRACPROBE_RK,
    ivf_model_cte,
    minhash_pairs_cte,
    nearest_cells_cte,
    sq_codes_cte,
)

# ---------------------------------------------------------------------------
# Adaptive MinHash-LSH: ambient probe -> split choice -> banded verify
# ---------------------------------------------------------------------------

# The probe is deterministic (seed-free xxhash64 sample, median slot
# agreement) and this corpus's ambient shingle similarity measures
# 0.19-0.22 at sf0.001/0.01/0.1, for which choose_minhash_split picks
# (num_perm=24, bands=4, rows=6) at every gate SF — pinned by
# tests/test_round7.py::test_adaptive_split_pinned_on_testdata, so a
# probe or chooser change that silently shifts the split breaks a test
# before it breaks this oracle.
_ADAPTIVE_ORACLE = f"""
WITH {minhash_pairs_cte(num_perm=24, bands=4)}
SELECT * FROM verified WHERE jaccard_sim >= 0.5
"""


@query("dedup_minhash_adaptive", oracle=_ADAPTIVE_ORACLE)
def _dedup_minhash_adaptive(spark, sf_dir):
    """Self-tuning near-dup pairs: probe ambient similarity, choose the
    (num_perm, bands) split that bounds the verify bill subject to the
    recall floor at dup_sim, then run the standard banded LSH + exact
    Jaccard verify (operators/dedup.py::dedup_minhash_adaptive).

    md5 tier (fast=False) so every stage after the split choice has
    the bit-exact DuckDB mirror all minhash tiers share; the oracle
    pins the split the probe deterministically picks on this corpus
    (24, 4, 6 — see the comment above). The production default stays
    fast=True (engine-private xxhash64, ~2-4x cheaper signatures);
    the two tiers differ only in the shingle hash function."""
    from ffi_etl_spark.operators.dedup import dedup_minhash_adaptive

    return dedup_minhash_adaptive(table(spark, sf_dir, "documents"), fast=False)


# ---------------------------------------------------------------------------
# Raw-text sources: per-line scan and whole-file ingest roundtrips
# ---------------------------------------------------------------------------


@query(
    "text_lines_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
         AS content_checksum
FROM documents
""",
)
def _text_lines_roundtrip(spark, sf_dir):
    """Line-delimited corpus export + ``read_text_lines`` re-ingest:
    the engine writes documents.text one-per-line (the crawl-dump
    layout; this corpus has no embedded newlines — if the testdata
    ever grew any, the written line count would exceed the oracle's
    document count and the gate itself fails, so the invariant is
    enforced by the comparison) and reads it back with the raw-text
    source. Order-free content summary on both sides: line count,
    distinct count, char mass, and an md5-prefix checksum so a
    truncated or mangled line cannot cancel out."""
    from ffi_etl_spark.sources.readers import read_text_lines

    docs = table(spark, sf_dir, "documents").select("text")
    path = os.path.join(
        tempfile.gettempdir(), f"ffi_etl_lines_{os.path.basename(sf_dir)}"
    )
    docs.write.mode("overwrite").text(path)
    lines = read_text_lines(spark, path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("value").alias("n_distinct"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(md5_int32(F.col("value"))).cast("long").alias("content_checksum"),
    )


# ---------------------------------------------------------------------------
# Self-scaling IVF: count probe -> sqrt(n) cells -> trained quantizer -> probe
# ---------------------------------------------------------------------------

# The gate slice, cell counts and probe pins live in oracle_sql (round12
# composes the same cell model). Every IVF oracle here replays the whole
# program: the deterministic-Lloyd model, the cell assignments, then the
# probe and ranking of its tier.


def _ivf_head(cells: int, build: int) -> tuple[str, str]:
    """The replayed cell model trained on the first ``build`` vectors,
    and the alias of the vectors the index holds: ``e`` when the model
    trains on the whole gate slice, else ``e5`` (the whole slice) beside
    ``e`` (its build part)."""
    head = f"\nWITH {ivf_model_cte(cells, build)}"
    if build == AUTOK_SLICE:
        return head, "e"
    return head + f""", e5 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < {AUTOK_SLICE}
)""", "e5"


def _cosine_topk(source: str, k: int = 10) -> str:
    return f"""ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM {source}
)
SELECT query_id, neighbor_id, cosine_sim, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def _ivf_float_oracle(cells: int, build: int, nprobe: int = 1) -> str:
    """The float tier: every query ranks the vectors of its ``nprobe``
    nearest cells by exact cosine. At nprobe=1 the queries reuse the
    corpus assignment (they are a subset of the corpus and the model
    is shared — assignment is a pure function of (vector, model))."""
    head, src = _ivf_head(cells, build)
    ca = nearest_cells_cte("ca", ("vec_id AS neighbor_id", "v AS cv"), src=src)
    if nprobe == 1:
        qa = f"""qa AS (
  SELECT neighbor_id AS query_id, cv AS qv, centroid_id
  FROM ca WHERE neighbor_id % {AUTOK_QMOD} = 0
)"""
    else:
        qa = nearest_cells_cte(
            "qa", ("vec_id AS query_id", "v AS qv"), src=src, mod=AUTOK_QMOD, rk=nprobe
        )
    return f"""{head}, {ca}, {qa}, scored AS (
  SELECT qa.query_id, ca.neighbor_id, {COS.format(a="qa.qv", b="ca.cv")} AS cosine_sim
  FROM ca JOIN qa USING (centroid_id)
  WHERE ca.neighbor_id <> qa.query_id
), {_cosine_topk("scored")}"""


def _ivf_autok_oracle() -> str:
    return _ivf_float_oracle(AUTOK_CELLS, AUTOK_SLICE)



def _gate_slice(spark, sf_dir):
    """(the first AUTOK_SLICE embeddings, the query vectors among them)."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < AUTOK_SLICE)
    return emb, emb.filter(F.col("vec_id") % AUTOK_QMOD == 0)


def _stored_index(spark, sf_dir, tag: str, train, store_codes: bool = False):
    """Build the IVF index on ``train`` and persist it under a fresh
    per-gate root; returns (centroids path, assignments path). The
    centroids (the K-row model) are written first: a torn write strands
    the small table, not the bulk."""
    from ffi_etl_spark.operators.similarity import (
        ivf_index_tables,
        write_ivf_assignments,
    )

    centroids, assignments = ivf_index_tables(
        train, n_iter=AUTOK_ROUNDS, quantize_bits=AUTOK_BITS, store_codes=store_codes
    )
    root = os.path.join(
        tempfile.gettempdir(), f"ffi_etl_{tag}_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)  # stale cells would add rows
    cpath, apath = os.path.join(root, "centroids"), os.path.join(root, "assignments")
    centroids.write.parquet(cpath)
    write_ivf_assignments(assignments, apath)
    return cpath, apath


def _append_rest(spark, emb, cpath: str, apath: str):
    """Append the vectors past APPEND_BUILD to the stored index against
    the STORED model; returns that model."""
    from ffi_etl_spark.operators.similarity import (
        append_ivf_assignments,
        ivf_index_append,
    )

    stored_model = spark.read.parquet(cpath)
    batch = emb.filter(F.col("vec_id") >= APPEND_BUILD)
    append_ivf_assignments(
        ivf_index_append(stored_model, spark.read.parquet(apath), batch), apath
    )
    return stored_model

@query("ann_ivf_autok", oracle=_ivf_autok_oracle())
def _ann_ivf_autok(spark, sf_dir):
    """Self-scaling IVF (operators/similarity.py::ann_ivf_autok): the
    cell count comes from a count probe (√n rule), the coarse
    quantizer is TRAINED by deterministic integer-centroid Lloyd
    rounds (the kmeans_clusters machinery), and corpus + queries are
    assigned against ONE final model before the standard cell-join
    top-k. Exact-integer centroid mode (quantize_bits) keeps every
    round bit-stable, so the oracle replays the full program: unrolled
    Lloyd chain → final centroid step → both assignments → top-k.

    The oracle pins cells=22 — what choose_ivf_cells deterministically
    returns for the 500-vector gate slice at every SF (pytest-pinned
    in tests/test_round7.py so a rule change breaks a test before this
    oracle). Queries reuse the corpus assignment in the oracle (they
    are a subset of the corpus and the model is shared — assignment is
    a pure function of (vector, model), which the engine computes
    independently and identically)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_autok

    emb, queries = _gate_slice(spark, sf_dir)
    return ann_ivf_autok(
        emb, queries, dim=64, n_iter=AUTOK_ROUNDS, quantize_bits=AUTOK_BITS
    )


# -- round 9 (late session): the persisted IVF index, registered beside
# the autok query whose oracle it shares verbatim.


@query("ann_ivf_stored", oracle=_ivf_autok_oracle())
def _ann_ivf_stored(spark, sf_dir):
    """Same program as ``ann_ivf_autok``'s gated query, with the build
    SPLIT from the probe across a parquet roundtrip
    (operators/similarity.py::ivf_index_tables / ann_ivf_query_stored):
    the model and assignments are written — assignments partitioned by
    centroid_id so a query batch's probe join prunes its read to the
    probed cells via dynamic partition pruning (plan-verified in
    tests/test_round9.py) — read back, layout-gated (self-describing
    ``_cells``/``_qbits``), and queried. The oracle is
    ``ann_ivf_autok``'s verbatim: the stored roundtrip must change WHEN
    the build cost is paid, never the answer."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(spark, sf_dir, "ivfidx", emb)
    return ann_ivf_query_stored(
        spark.read.parquet(cpath), spark.read.parquet(apath), queries
    )


# -- round 9 (late session): incremental maintenance of the stored
# index. The model trains on the first APPEND_BUILD vectors; the
# remaining slice appends against that STORED model (adopt, never
# retrain mid-append — ivf_index_append's contract). Assignment is a
# pure function of (vector, model), so the oracle assigns the full
# slice against the replayed APPEND_BUILD-trained model in one pass —
# exactly what stored ∪ appended equals.


def _ivf_append_oracle() -> str:
    return _ivf_float_oracle(APPEND_CELLS, APPEND_BUILD)


@query("ann_ivf_append", oracle=_ivf_append_oracle())
def _ann_ivf_append(spark, sf_dir):
    """Incremental index maintenance end to end: build + persist the
    index on the first APPEND_BUILD vectors, append the rest of the
    slice against the STORED model (ivf_index_append — adopt, never
    retrain; replay-idempotent via the stored-id anti-join), then
    query the GROWN index. Queries include appended ids, so the probe
    exercises rows from both eras. The oracle trains the same model on
    the build slice and assigns the full slice in one pass — legal
    because assignment is a pure function of (vector, model)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(
        spark, sf_dir, "ivfappend", emb.filter(F.col("vec_id") < APPEND_BUILD)
    )
    stored_model = _append_rest(spark, emb, cpath, apath)
    return ann_ivf_query_stored(stored_model, spark.read.parquet(apath), queries)


def _ivf_stored_multiprobe_oracle(rk: int = 2) -> str:
    """The autok oracle with the QUERY assignment widened to its top-rk
    cells — the recall dial's multi-probe notch against the STORED
    index. (query, neighbor) pairs stay unique because each NEIGHBOR
    lives in exactly one cell; only the probe set widens. rk=2 is the
    ann_ivf_stored_nprobe2 gate; ann_ivf_stored_fracprobe passes the
    ceil(probe_frac · cells) the engine derives from the stored
    ``_cells`` stamp."""
    return _ivf_float_oracle(AUTOK_CELLS, AUTOK_SLICE, nprobe=rk)


@query("ann_ivf_stored_nprobe2", oracle=_ivf_stored_multiprobe_oracle(2))
def _ann_ivf_stored_nprobe2(spark, sf_dir):
    """The STORED index probed at nprobe=2 — the multi-probe recall
    notch (assign_top_centroids against the stored K-row model: each
    query joins its TWO nearest cells) over the persisted layout.
    Round 10 measured this dial's recall curve
    (BASELINE.md §round-10); this gate pins its exactness: the stored
    multi-probe answer must equal the replayed-program oracle with the
    query assignment widened to rk <= 2, same tie rules. Before this
    gate the nprobe>1 stored path was pytest-covered only
    (monotonicity lock, tests/test_round10.py)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(spark, sf_dir, "ivfnp2", emb)
    return ann_ivf_query_stored(
        spark.read.parquet(cpath), spark.read.parquet(apath), queries, nprobe=2
    )


@query("ann_ivf_stored_fracprobe", oracle=_ivf_stored_multiprobe_oracle(FRACPROBE_RK))
def _ann_ivf_stored_fracprobe(spark, sf_dir):
    """The STORED index probed at a fixed FRACTION of its cells
    (probe_frac=0.1 → nprobe = ceil(0.1 · 22) = 3 on the gate slice) —
    the production probe dial (VERDICT r10 item 1). A fixed integer
    nprobe is scale-blind: cells grow as √n, so the probed share
    shrinks as the corpus grows and recall decays with it
    (BENCH_IVF_RECALL_r10_sf10 measured the decay; BASELINE.md
    §round-11 shows the frac dial holding across the same decade).
    The engine derives nprobe from the stored model's own ``_cells``
    stamp — the oracle replays the program with the query assignment
    widened to rk <= 3, so a ceil-rule or stamp-read bug fails the
    hash, not just a recall curve."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(spark, sf_dir, "ivffrac", emb)
    return ann_ivf_query_stored(
        spark.read.parquet(cpath),
        spark.read.parquet(apath),
        queries,
        probe_frac=FRACPROBE,
    )


@query(
    "ann_ivf_autok_fracprobe", oracle=_ivf_stored_multiprobe_oracle(FRACPROBE_RK)
)
def _ann_ivf_autok_fracprobe(spark, sf_dir):
    """The IN-QUERY tier at the same fraction dial
    (ann_ivf_autok(probe_frac=0.1) — nprobe = ceil(0.1 · 22) = 3
    against the just-trained model): one fraction must state one
    recall target across both tiers, so this gate shares
    ann_ivf_stored_fracprobe's replayed-program oracle verbatim — the
    two tiers differ only in WHEN the build cost is paid, never the
    answer (the ann_ivf_stored precedent, applied to the dial)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_autok

    emb, queries = _gate_slice(spark, sf_dir)
    return ann_ivf_autok(
        emb, queries, dim=64, n_iter=AUTOK_ROUNDS, quantize_bits=AUTOK_BITS,
        probe_frac=FRACPROBE,
    )


@query("ann_ivf_churn", oracle=_ivf_append_oracle())
def _ann_ivf_churn(spark, sf_dir):
    """Round-10 maintenance gate: the append-CHURN lifecycle — build +
    persist on the first APPEND_BUILD vectors, append the rest in
    THREE batches through the layout-aware writer
    (append_ivf_assignments: one file per touched cell per append),
    run per-cell compaction (compact_ivf_assignments, threshold forced
    low so the path executes at gate scale), then query the grown,
    compacted index. The oracle is ann_ivf_append's VERBATIM: neither
    the batch split nor the compaction may change a single row —
    assignment is a pure function of (vector, model), and compaction
    rewrites files, never rows. A compaction bug that drops, dups, or
    re-assigns rows fails this gate's hash."""
    from ffi_etl_spark.operators.similarity import (
        ann_ivf_query_stored,
        append_ivf_assignments,
        compact_ivf_assignments,
        ivf_index_append,
    )

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(
        spark, sf_dir, "ivfchurn", emb.filter(F.col("vec_id") < APPEND_BUILD)
    )
    stored_model = spark.read.parquet(cpath)
    per = (AUTOK_SLICE - APPEND_BUILD + 2) // 3
    for b in range(3):
        lo = APPEND_BUILD + b * per
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + per))
        append_ivf_assignments(
            ivf_index_append(stored_model, spark.read.parquet(apath), batch), apath
        )
    # build(1 file/cell) + 3 appends -> crowded at threshold 1; the
    # compaction must execute (not no-op) for this gate to mean anything
    compact_ivf_assignments(spark, apath, files_per_cell=1)
    return ann_ivf_query_stored(stored_model, spark.read.parquet(apath), queries)


_DRIFT_FLOOR_Q = 524288  # FLOOR(0.5 * 2^20): the quantized sim floor


def _ivf_drift_oracle() -> str:
    scale = f"{1 << AUTOK_BITS}.0"
    cos_bc = COS.format(a="b.v", b="c.centroid")
    return f"""
WITH {ivf_model_cte(APPEND_CELLS, APPEND_BUILD)}, b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id >= {APPEND_BUILD} AND vec_id < {AUTOK_SLICE}
), best AS (
  SELECT vec_id,
         CAST(FLOOR(sim * {scale}) AS BIGINT) AS qsim, centroid_id FROM (
    SELECT b.vec_id, {cos_bc} AS sim, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY {cos_bc} DESC, c.centroid_id ASC
           ) AS rk
    FROM b CROSS JOIN cf c
  ) WHERE rk = 1
), per_cell AS (
  SELECT centroid_id,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(qsim) AS BIGINT) AS cqs,
         CAST(SUM(CASE WHEN qsim < {_DRIFT_FLOOR_Q} THEN 1 ELSE 0 END)
              AS BIGINT) AS clow
  FROM best GROUP BY centroid_id
)
SELECT CAST(SUM(cn) AS BIGINT) AS n_vecs,
       CAST(SUM(cqs) AS BIGINT) AS q_sim_sum,
       CAST(SUM(clow) AS BIGINT) AS n_low,
       CAST(COUNT(*) AS BIGINT) AS cells_touched,
       CAST(MAX(cn) AS BIGINT) AS max_cell_n
FROM per_cell
"""


@query("ann_ivf_drift", oracle=_ivf_drift_oracle())
def _ann_ivf_drift(spark, sf_dir):
    """Quantizer staleness probe (ivf_quantizer_drift): the incoming
    batch scored against the build-slice model — quantized best-sim
    mass, below-floor count (integer-space comparison against the
    quantized floor, so the threshold cannot float-drift), and cell
    occupancy spread. The signal that decides when ivf_index_append
    must give way to a re-materialize."""
    from ffi_etl_spark.operators.similarity import (
        ivf_quantizer_drift,
        ivf_train_quantizer,
    )

    emb, _ = _gate_slice(spark, sf_dir)
    base = emb.filter(F.col("vec_id") < APPEND_BUILD)
    batch = emb.filter(F.col("vec_id") >= APPEND_BUILD)
    cents, _ = ivf_train_quantizer(
        base, n_iter=AUTOK_ROUNDS, quantize_bits=AUTOK_BITS
    )
    return ivf_quantizer_drift(cents, batch, sim_floor=0.5, scale_bits=AUTOK_BITS)


_WHOLE_DOC_MOD = 25  # 20 files at sf0.01, 200 at sf0.1 — whole-file scale


@query(
    "documents_whole_roundtrip",
    oracle=f"""
SELECT doc_id,
       CAST(len(text) AS BIGINT) AS n_chars_file,
       md5(text) AS content_hash
FROM documents WHERE doc_id % {_WHOLE_DOC_MOD} = 0
""",
)
def _documents_whole_roundtrip(spark, sf_dir):
    """Directory-of-.txt-files ingest through ``read_text_docs``
    (wholetext=True): a deterministic document subset is materialized
    as one file per doc, read back whole-file, and summarized as
    (doc_id, char count, md5) — content fidelity per FILE, not just in
    aggregate. The fixture write collects the subset driver-side
    (bounded: |docs| / {_WHOLE_DOC_MOD} rows — test scaffolding, not
    the operator; the operator under test is the distributed
    whole-file scan, whose splits are one-file-per-task)."""
    from ffi_etl_spark.sources.readers import read_text_docs

    docs = table(spark, sf_dir, "documents")
    subset = docs.filter(F.col("doc_id") % _WHOLE_DOC_MOD == 0).select(
        "doc_id", "text"
    )
    root = os.path.join(
        tempfile.gettempdir(), f"ffi_etl_wholedocs_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)  # stale files would add rows
    os.makedirs(root)
    for r in subset.collect():  # bounded fixture write, justified above
        # utf-8 explicitly: Spark's text reader decodes UTF-8, and a
        # locale-default open() would diverge on non-ASCII documents
        with open(
            os.path.join(root, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8"
        ) as f:
            f.write(r["text"])
    back = read_text_docs(spark, root, glob="*.txt")
    return back.select(
        F.regexp_extract("doc_id", r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_file"),
        F.md5("text").alias("content_hash"),
    )


# -- round 12: the int8-coded stored index (VERDICT r11 item 1). The
# probe dial's cost side is linear in probed read volume; storing
# uint8 codes beside the float vectors cuts that volume 4x (the probe
# scan reads only the codes column of the probed cells) and the
# shortlist's exact float re-rank restores the float tier's answer.
# The oracle replays the WHOLE program: deterministic-Lloyd training,
# cell assignment, the per-dimension min/max codebook, integer-L2
# shortlisting at rerank_factor*k with the (d2 ASC, neighbor ASC) tie
# rule, then exact-cosine top-k — so a codes bug, a clamp bug, a
# shortlist tie bug, or a re-rank bug each fails the hash.
_INT8_RERANK = 4


def _ivf_int8_oracle(
    cells: int, build: int, rk: int, rerank_factor: int | None, k: int = 10
) -> str:
    """The int8 tier: the per-dimension codebook is fit on the build
    slice ``e`` and codes every indexed vector, the probed cells are
    ranked by integer L2 in code space, and a rerank_factor·k shortlist
    is re-ranked by exact cosine. rerank_factor=None stops at the
    code-space ranking: (query_id, neighbor_id, code_d2, rank) with
    exact BIGINT distances — the cheapest-read tier's own gate."""
    head, src = _ivf_head(cells, build)
    ca = nearest_cells_cte("ca", ("vec_id AS neighbor_id",), src=src)
    qa = nearest_cells_cte("qa", ("vec_id AS query_id",), src=src, mod=AUTOK_QMOD, rk=rk)
    body = f"""{head}, {ca}, {qa}, {sq_codes_cte(src)}, d2 AS (
  SELECT qa.query_id, ca.neighbor_id,
         SUM((cc.code - qc.code) * (cc.code - qc.code)) AS code_d2
  FROM ca JOIN qa USING (centroid_id)
  JOIN codes cc ON cc.vec_id = ca.neighbor_id
  JOIN codes qc ON qc.vec_id = qa.query_id AND qc.i = cc.i
  WHERE ca.neighbor_id <> qa.query_id
  GROUP BY qa.query_id, ca.neighbor_id
)"""
    if rerank_factor is None:
        return body + f""", ranked AS (
  SELECT query_id, neighbor_id, CAST(code_d2 AS BIGINT) AS code_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY code_d2 ASC, neighbor_id ASC) AS rank
  FROM d2
)
SELECT query_id, neighbor_id, code_d2, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""
    return body + f""", short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY code_d2 ASC, neighbor_id ASC) AS rk
    FROM d2
  ) WHERE rk <= {rerank_factor * k}
), rr AS (
  SELECT s.query_id, s.neighbor_id, {COS.format(a="eq.v", b="en.v")} AS cosine_sim
  FROM short s
  JOIN {src} eq ON eq.vec_id = s.query_id
  JOIN {src} en ON en.vec_id = s.neighbor_id
), {_cosine_topk("rr", k)}"""


@query(
    "ann_ivf_stored_int8",
    oracle=_ivf_int8_oracle(AUTOK_CELLS, AUTOK_SLICE, FRACPROBE_RK, _INT8_RERANK),
)
def _ann_ivf_stored_int8(spark, sf_dir):
    """The STORED index built with int8 codes beside the floats
    (ivf_index_tables(store_codes=True)) and probed at the production
    fraction dial in CODE SPACE with exact float re-rank
    (operators/similarity.py::ann_ivf_query_stored_int8, VERDICT r11
    item 1): probe_frac=0.1 -> nprobe=3 on the gate slice, integer-L2
    shortlist of rerank_factor*k=40 per query (codes column only — the
    plan's probe scan never touches the float column, plan-locked in
    tests/test_round12.py), then exact cosine over the shortlist's
    floats. The oracle replays every stage, so this gate pins the
    codebook fit, the clamp, the floor rule, the integer kernel, both
    tie rules, and the re-rank — not just a recall curve."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored_int8

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(spark, sf_dir, "ivfint8", emb, store_codes=True)
    return ann_ivf_query_stored_int8(
        spark.read.parquet(cpath),
        spark.read.parquet(apath),
        queries,
        probe_frac=FRACPROBE,
        rerank_factor=_INT8_RERANK,
    )


@query(
    "ann_ivf_stored_int8_codes",
    oracle=_ivf_int8_oracle(AUTOK_CELLS, AUTOK_SLICE, FRACPROBE_RK, None),
)
def _ann_ivf_stored_int8_codes(spark, sf_dir):
    """The code-space tier WITHOUT the float re-rank
    (rerank_factor=None): output is the raw integer ranking
    (query_id, neighbor_id, code_d2, rank) — the cheapest read path
    when downstream only needs candidate ids (a dedup pre-filter, a
    recall-tolerant retrieval stage). Exact BIGINT distances make this
    the one ANN output that is bit-deterministic END TO END with no
    float column anywhere, so the oracle replays it to the hash."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored_int8

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(spark, sf_dir, "ivfint8c", emb, store_codes=True)
    return ann_ivf_query_stored_int8(
        spark.read.parquet(cpath),
        spark.read.parquet(apath),
        queries,
        probe_frac=FRACPROBE,
        rerank_factor=None,
    )


@query(
    "ann_ivf_append_int8",
    oracle=_ivf_int8_oracle(
        APPEND_CELLS, APPEND_BUILD, APPEND_FRACPROBE_RK, _INT8_RERANK
    ),
)
def _ann_ivf_append_int8(spark, sf_dir):
    """Incremental maintenance of the CODED index end to end: build +
    persist with store_codes=True on the first APPEND_BUILD vectors,
    append the rest through ivf_index_append (which codes the batch
    under the STORED codebook — appended vectors can fall outside the
    base's per-dimension min/max, so this gate is where the
    GREATEST/LEAST clamp carries weight instead of being a no-op),
    then probe the grown index in code space at the fraction dial with
    exact float re-rank. The oracle fits model AND codebook on the
    base slice and codes the full slice under them — legal because
    assignment and coding are both pure functions of
    (vector, stored model, stored codebook)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_query_stored_int8

    emb, queries = _gate_slice(spark, sf_dir)
    cpath, apath = _stored_index(
        spark, sf_dir, "ivfapp8", emb.filter(F.col("vec_id") < APPEND_BUILD),
        store_codes=True,
    )
    stored_model = _append_rest(spark, emb, cpath, apath)
    return ann_ivf_query_stored_int8(
        stored_model,
        spark.read.parquet(apath),
        queries,
        probe_frac=FRACPROBE,
        rerank_factor=_INT8_RERANK,
    )
