"""Similarity search over embedding columns (array<float>).

  * knn_bruteforce — exact top-k: broadcast the (small) query set
    against the corpus, fold cosine JVM-side, window top-k. The right
    baseline AND the right 100 TB plan when |queries| is small: the
    corpus is scanned once, never shuffled; only (|queries|·k) rows
    survive to the final (tiny) sort.
  * ann_sign_lsh — sign-bit hyperplane buckets: candidates share a
    bucket, so the cross product shrinks from n² to Σ bucket².
    Embedding-cosine near-dup detection uses the same bucket join.

Cosine is a sequential double fold (functions/vectors.py) —
deterministic and DuckDB-comparable bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ffi_etl_spark.functions.vectors import (
    cosine,
    cosine_prenorm,
    dot,
    norm2,
    sign_bucket,
)


class QuantizerDriftError(ValueError):
    """A vector batch failed the adopted quantizer's drift contract
    (``ivf_index_append(max_below_floor_share=...)``). A dedicated
    type so remediation paths (``stream_ann_ingest(rebuild_on_drift)``)
    dispatch on the CLASS, not a substring of the message — rewording
    the refusal must never silently turn a rebuild sink back into
    fail-the-stream, and an unrelated ValueError that happens to
    mention drift must never trigger a full re-materialization
    (ADVICE r11)."""


def _spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin the frame up to the session's parallelism WHEN its
    current plan has fewer partitions (round 13, guide §2/§6): small
    single-file parquet corpora plan 1-2 scan splits, so a compute-dense
    narrow stage over them (the n·q scoring join, the K-dot assignment
    pass) runs on 1-2 cores no matter how many the session has —
    measured at synthetic sf1: knn_bruteforce read the same ~31s on 8
    cores as on 32 (embeddings.parquet = 2 splits). At production scale
    the scan has splits ≫ cores and this is a NO-OP (no shuffle added).

    Only safe where downstream math is PER-ROW (dots, norms, argmax)
    or order-free (integer sums, deterministic-tie ranks): a float
    sum/avg over the respread rows would change accumulation order by
    ±ulp. Callers keep float-mean aggregates (compute_centroids) on
    the ORIGINAL frame.

    Precondition: ``df`` is a scan (plus narrow operators), with no
    exchange in its plan. The split count comes from ``df.rdd``, and
    converting a plan with shuffles to an RDD runs those shuffle stages
    as eager jobs under AQE; every caller passes a table scan."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (self-matches excluded).
    Output: query_id, neighbor_id, cosine_sim, rank."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm2(F.col(vec_col)).alias("_qn"),
    )
    c = _spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm2(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            cosine_prenorm(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ann_sign_lsh_pairs(
    corpus: DataFrame,
    bits: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: bucket by coordinate-sign LSH, verify
    cosine within buckets. Output: id_a, id_b, cosine_sim."""
    b = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        sign_bucket(F.col(vec_col), bits).alias("_bucket"),
    )
    left = b.alias("l")
    right = b.alias("r")
    return (
        left.join(
            right,
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            cosine(F.col("l._v"), F.col("r._v")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def compute_centroids(
    corpus: DataFrame,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Elementwise-mean centroid per partition label — the IVF 'coarse
    quantizer' trained outside the engine in a real deployment; here the
    corpus's own label column stands in for the k-means assignment.

    Shape: posexplode to (label, pos, x) rows, ONE 2-key hash aggregate
    to K·dim means, then reassemble each centroid with an order-pinned
    collect. This scales in dim where a per-element aggregate list does
    not — dim separate avg() aggregates generate kilobytes of
    aggregation code per element (seconds of janino compile at dim=64,
    unusable at dim=1024), while the exploded form is one tiny codegen
    whatever the dim, and the explode is map-side-combined into K·dim
    groups before the (tiny) shuffle."""
    means = _centroid_elements(corpus, label_col, vec_col, None)
    return means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("centroid")
    )


def _centroid_elements(
    assigned: DataFrame,
    label_col: str,
    vec_col: str,
    quantize_bits: int | None,
) -> DataFrame:
    """The shared FIRST stage of both centroid updates: posexplode to
    (centroid_id, pos, x) rows and ONE map-side-combined (centroid_id,
    pos) aggregate — ``v`` is the float mean (``quantize_bits=None``,
    compute_centroids' update) or the exact quantized BIGINT sum
    (``quantized_centroid_sums``' update). Split out in round 13 so the
    K-bounded model paths can collect HERE and reassemble the K arrays
    on the driver, skipping the second (K·dim → K) exchange+stage —
    the ANN family's bench lines are pure 1-task-stage orchestration at
    gate scale (measured: ann_ivf_autok = 23 jobs, every stage 1 task,
    ~150 ms/job), so one fewer sequential stage per Lloyd round is the
    honest lever (guide §2.4)."""
    exploded = assigned.select(
        F.col(label_col).alias("centroid_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    if quantize_bits is None:
        agg = F.avg(F.col("x").cast("double")).alias("v")
    else:
        agg = F.sum(
            F.floor(
                F.col("x").cast("double") * F.lit(float(1 << quantize_bits))
            ).cast("long")
        ).alias("v")
    return exploded.groupBy("centroid_id", "pos").agg(agg)


def compute_centroids_arrow(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """``applyInArrow`` twin of ``compute_centroids``: per-label
    elementwise mean computed by numpy over the group's Arrow table —
    the grouped-map lane where the aggregation logic is genuinely
    array-shaped Python (a real pipeline would put PCA/whitening here).
    Parity with the exploded-mean operator is locked by
    ``test_centroids_arrow_matches_exploded_mean``.

    Scale tradeoff, stated: ``applyInArrow`` hands EACH GROUP to one
    worker as a single in-memory Table — right for many modest groups
    (label-partitioned embedding sets), wrong for a group that is a
    double-digit fraction of 100 TB. ``compute_centroids``'s
    explode+aggregate form has no such per-group bound and stays the
    default; this lane exists for the logic built-ins can't express."""
    import numpy as np
    import pyarrow as pa

    def _mean(tbl: "pa.Table") -> "pa.Table":
        vecs = np.asarray(tbl.column(vec_col).to_pylist(), dtype=np.float64)
        return pa.table(
            {
                # keep the label column's own Arrow type: a long or
                # string label must survive, not be crushed to int32
                "centroid_id": tbl.column(label_col).slice(0, 1),
                "centroid": pa.array([vecs.mean(axis=0).tolist()]),
            }
        )

    # the multimodal._out_schema rule: the group key keeps the input
    # column's TYPE (an int32 hardcode would overflow long labels and
    # reject string labels outright)
    label_dt = dict(corpus.dtypes)[label_col]
    return corpus.select(label_col, vec_col).groupBy(label_col).applyInArrow(
        _mean, schema=f"centroid_id {label_dt}, centroid array<double>"
    )


def quantized_centroid_sums(
    assigned: DataFrame,
    label_col: str = "centroid_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Integer-quantized centroid SUMS per cluster: element i is
    ``SUM(FLOOR(x_i · 2^scale_bits))`` as an exact BIGINT, reassembled
    into an array<double> of integer values. This is the
    cross-engine-deterministic centroid update for Lloyd iteration:

    * ``x · 2^scale_bits`` is EXACT for float32 inputs (power-of-two
      scaling never rounds a double), ``FLOOR`` is exact and has no
      tie-breaking ambiguity (unlike decimal HALF_UP casts), and a sum
      of BIGINTs is exact and order-independent — so unlike a float
      mean (partition-order-dependent accumulation), every engine
      computes bit-identical centroids, which makes iterated argmax
      assignment bit-stable and therefore fully DuckDB-oracleable.
    * cosine is scale-invariant, so assigning against the un-divided
      SUM is identical to assigning against the mean; the quantization
      at 2^-20 per element is the only (deterministic, documented)
      deviation from ``compute_centroids``' float mean.
    * Magnitude: |sum_i| ≤ n_members · 2^scale_bits · max|x|; with
      scale_bits=20 an exact-double budget of 2^53 allows ~8e9
      member·|x| per cluster — raise k or lower scale_bits past that.

    Same shuffle shape as ``compute_centroids``: one narrow posexplode,
    one K·dim-group aggregate (map-side combined), one K-row collect."""
    sums = _centroid_elements(assigned, label_col, vec_col, scale_bits)
    return sums.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"].cast("double"),
        ).alias("centroid")
    )


def pack_centroids(centroids: DataFrame) -> DataFrame:
    """Collapse the K centroid rows into ONE row holding an array of
    (centroid_id, centroid, cnorm) structs — the broadcastable model.
    Each centroid's norm is computed here, once, so assignment scoring
    costs a single dot-fold per centroid instead of three."""
    return centroids.agg(
        F.collect_list(
            F.struct(
                "centroid_id",
                "centroid",
                norm2(F.col("centroid")).alias("cnorm"),
            )
        ).alias("_cents")
    )


def _norm2_sql(vec_col: str) -> str:
    """``functions.vectors.norm2`` as ONE SQL string — the exact same
    sqrt/aggregate/zip_with expression, parsed in one py4j round-trip.
    The lambda-built form costs dozens of py4j calls per construction;
    per-phase timing of the Lloyd loop measured 0.2-0.6s of pure driver
    time per assignment BUILD (round 13), and the ANN bench lines
    construct these trees 2-4× per query."""
    d = _dot_sql(f"`{vec_col}`", f"`{vec_col}`")
    return f"sqrt({d})"


def _dot_sql(a: str, b: str) -> str:
    """``functions.vectors.dot`` as a SQL string over two array exprs —
    same elementwise double casts, same in-order fold, bit-identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )


def _scored_sql(vec_col: str, norm_col: str) -> str:
    """The per-centroid (sim, -centroid_id) scoring array both
    assignment operators fold over — the SQL twin of the round-12
    lambda form (parity locked by the ANN family oracles and
    tests/test_similarity_kmeans.py)."""
    d = _dot_sql(f"`{vec_col}`", "c.centroid")
    return (
        f"transform(_cents, c -> struct("
        f"{d} / (`{norm_col}` * c.cnorm) AS sim, "
        f"-c.centroid_id AS ncid))"
    )


def assign_to_centroid(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str = "vec_norm",
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment against a
    ``compute_centroids`` output, in one lazy narrow pass: the K rows
    pack into a 1-row broadcast model (the corpus itself never
    shuffles — two assignments against the same centroids share the
    broadcast via exchange reuse), each centroid
    is scored with a single zip_with/fold dot (the vector's norm is a
    column computed once per row, the centroid's norm ships inside the
    broadcast struct), and the argmax is ``array_max`` over
    (sim, -centroid_id) structs — lexicographic struct ordering gives
    the highest sim with ties to the LOWEST centroid_id, independent of
    the array's build order, and the scored array appears exactly once
    in the plan.

    Output keeps the per-vector norm under ``norm_col`` so downstream
    pair scoring reuses it instead of re-folding.

    (Rejected formulations: cross-join K rows per vector + a
    Window.partitionBy(id) rank — shuffles n·K rows twice; collecting
    centroids to driver-side literals — an extra eager job per
    assignment and a plan Catalyst re-analyzes per call.)

    Round 13: the norm and scoring expressions build from ONE parsed
    SQL string each (``_norm2_sql``/``_scored_sql``) instead of nested
    lambda ``F.`` calls — identical expressions, ~2× cheaper DRIVER
    construction (the Lloyd loop re-builds this tree every round)."""
    packed = pack_centroids(centroids)
    return (
        corpus.withColumn(norm_col, F.expr(_norm2_sql(vec_col)))
        .crossJoin(F.broadcast(packed))
        .withColumn("_best", F.array_max(F.expr(_scored_sql(vec_col, norm_col))))
        .select(id_col, vec_col, norm_col, (-F.col("_best.ncid")).alias("centroid_id"))
    )


def assign_top_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    top_n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str = "vec_norm",
) -> DataFrame:
    """Multi-probe assignment: each vector gets its ``top_n`` nearest
    centroids (one output row per probe). Same broadcast/scoring shape
    as ``assign_to_centroid``; the top-n is reverse(array_sort) + slice
    + explode on the scored array — still narrow, still one pass, the
    per-vector cost is K dots regardless of top_n. Ordering ties match
    the argmax rule (equal sims -> lower centroid_id first)."""
    packed = pack_centroids(centroids)
    scored = F.expr(_scored_sql(vec_col, norm_col))
    # ascending sort by (sim, ncid) reversed = descending sim, ties to
    # the larger ncid first (= smaller centroid_id), matching array_max
    top = F.slice(F.reverse(F.array_sort(scored)), 1, top_n)
    return (
        corpus.withColumn(norm_col, F.expr(_norm2_sql(vec_col)))
        .crossJoin(F.broadcast(packed))
        .select(
            id_col,
            vec_col,
            norm_col,
            F.posexplode(top).alias("probe_rank", "_probe"),
        )
        .select(
            id_col,
            vec_col,
            norm_col,
            (F.col("probe_rank") + 1).alias("probe_rank"),
            (-F.col("_probe.ncid")).alias("centroid_id"),
        )
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF approximate top-k: the corpus is assigned to its nearest
    centroid; each query probes its ``nprobe`` nearest cells. The scale
    path when |queries| is large: the candidate join is an equi-join on
    centroid_id instead of a full cross product, so work scales with
    nprobe·Σ cell² not n·q. Output matches knn_bruteforce minus
    out-of-probe neighbors — nprobe is the recall/cost dial (a corpus
    vector lives in exactly one cell, so multi-probe never duplicates a
    candidate pair)."""
    # The K-row label model is materialized once as a 1-slice local
    # source (round 13): the lazy form planned the whole
    # scan→explode→aggregate model subtree under BOTH assignment
    # broadcasts — AQE stage reuse deduplicated the work at runtime,
    # but each broadcast still staged the chain job by job (the plan
    # carried 2× the training subtree and the line ran FASTER on 8
    # cores than 32 — PERF_r12 scaling 0.76). K is the label
    # cardinality: the coarse-quantizer premise (per-cell join ≈ n²/K
    # bounded) already requires K ≪ n, so the collect is model-sized.
    cents = _materialize_k_rows(
        corpus.sparkSession, compute_centroids(corpus, dim, label_col, vec_col)
    )
    # spread the ASSIGNMENT input only — the float-mean centroid
    # aggregate above keeps the original scan order (its per-group
    # accumulation is partition-order-sensitive); assignment is
    # per-row math against the already-materialized model
    c = assign_to_centroid(_spread_scan(corpus), cents, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", vec_col: "_cv", "vec_norm": "_cn"}
    )
    if nprobe > 1:
        q = assign_top_centroids(queries, cents, nprobe, id_col, vec_col).drop(
            "probe_rank"
        )
    else:
        q = assign_to_centroid(queries, cents, id_col, vec_col)
    q = q.withColumnsRenamed({id_col: "query_id", vec_col: "_qv", "vec_norm": "_qn"})
    return _ivf_probe_topk(c, q, k)


def _ivf_probe_topk(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """The IVF candidate join + per-query top-k shared by every IVF
    tier: equi-join on centroid_id (never a cross product), exact
    cosine on the prenormed vectors, WindowGroupLimit top-k with the
    deterministic (sim DESC, neighbor ASC) tie-break."""
    scored = (
        c.join(q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            cosine_prenorm(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def choose_ivf_cells(n: int) -> int:
    """The √n cell-count rule: with cells ≈ √n, expected per-cell
    membership is also ≈ √n, so an nprobe-cell probe scores
    ~nprobe·√n candidates per query and the WHOLE probe join is
    ~q·nprobe·√n — the balanced point of the IVF cost curve. A FIXED
    cell count degrades super-linearly as the corpus grows (measured:
    BASELINE.md §scaling sf3 — ann_ivf_topk at its standing k went
    4.6× for 3× data because per-cell membership grew linearly).
    Driver-side pure math."""
    import math

    return max(2, math.isqrt(max(n, 0)))


def ivf_train_quantizer(
    corpus: DataFrame,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
    cells: int | None = None,
) -> tuple[DataFrame, int]:
    """(centroids, cells): the coarse-quantizer build every IVF tier
    shares — extracted from ``ann_ivf_autok`` so the persisted-index
    path (``ivf_index_tables``) trains the exact same model.

    Count probe (one column-pruned parquet footer statistic, not a
    scan) → √n cell rule unless pinned → Lloyd rounds over a
    deterministic smallest-xxhash64 TRAINING SAMPLE of
    ≤ 64·cells vectors (FAISS trains its coarse quantizer the same
    way; full-corpus Lloyd at k=√n costs n^1.5 per round) → ONE final
    centroid update becomes THE model."""
    n = corpus.count()
    if cells is None:
        cells = choose_ivf_cells(n)
    sample_per_cell = 64
    train = corpus
    if n > sample_per_cell * cells:
        # the repartition after the limit is load-bearing: orderBy +
        # limit plans a GlobalLimit whose output is ONE partition, so
        # without it every Lloyd round's assignment (sample·cells·dim
        # multiply-adds) runs on a single core — measured at sf10
        # (200k vectors, cells=447, 28.6k-row sample): the round-9
        # first cut pinned one task at 100% CPU for 30+ minutes while
        # 31 cores idled. One small shuffle of ≤64·cells rows restores
        # parallelism for the whole training loop. Bit-safe for the
        # quantized tier (integer centroid sums are order-independent);
        # the float tier was already partition-order-dependent.
        train = (
            corpus.orderBy(F.xxhash64(F.col(id_col).cast("string")))
            .limit(sample_per_cell * cells)
            .repartition(int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        )
    assigned = kmeans_lloyd(
        train, k=cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        quantize_bits=quantize_bits,
    )
    # the final update IS the model every consumer (both assignments,
    # the stored-index writer) reads — materialize it like the round
    # models (round 13): the two assignment broadcasts then build from
    # a K-row 1-slice local source instead of each re-staging the
    # final-update subtree, and the stored writer emits ONE file
    cents = _materialize_centroids(
        corpus.sparkSession, assigned, cells, "centroid_id", vec_col, quantize_bits
    )
    return cents, cells


def ann_ivf_autok(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    k: int = 10,
    nprobe: int = 1,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
    cells: int | None = None,
    probe_frac: float | None = None,
) -> DataFrame:
    """Self-scaling IVF top-k: the cell count comes from the corpus
    size (``choose_ivf_cells`` — the √n rule) and the coarse quantizer
    is TRAINED on the corpus (``kmeans_lloyd``) instead of borrowed
    from a label column — the probe-then-branch posture of
    ``dedup_minhash_adaptive`` and ``salted_join_adaptive`` applied to
    the ANN tier, closing the fixed-k scale caveat the sf3 ladder
    measured (BASELINE.md §scaling).

    Flow: count probe (metadata-cheap, justified in-line) → Lloyd
    rounds over a TRAINING SAMPLE of ≤ ``sample_per_cell``·cells
    vectors (deterministic smallest-xxhash64 subset; FAISS trains its
    coarse quantizer the same way — full-corpus Lloyd at k=√n costs
    n^1.5 PER ROUND, which the first ladder measurement of this
    operator paid and the sample cuts to O(n)) → ONE final centroid
    update becomes THE model → corpus and queries are both assigned
    against that single table, which is what makes the cell join valid
    (mixing models would probe cells that were never assigned under
    them). The one n·√n pass that remains is the single full-corpus
    assignment — the irreducible IVF BUILD cost, paid once per index
    and amortized over every query batch thereafter; the per-batch
    QUERY cost is q·nprobe·√n. ``quantize_bits`` selects the
    exact-integer centroid mode, making the whole pipeline
    bit-deterministic and DuckDB-oracleable (the ``kmeans_clusters``
    precedent — the gated query's 500-vector slice is smaller than the
    sample cap, so the oracle replays training over the exact slice);
    the float default keeps full precision for production.

    Output and semantics match ``ann_ivf_topk``: per query the exact
    top-k among vectors sharing its ``nprobe`` probed cells.

    ``probe_frac`` mirrors the stored tier's production dial (round
    11): nprobe = max(1, ceil(probe_frac · cells)) against THIS
    build's cell count, so the same fraction states the same recall
    target whether the index is built in-query or read back from
    parquet (overrides ``nprobe`` when set)."""
    # range-check BEFORE training: the quantizer build is the expensive
    # half of this call, and an out-of-range dial must not charge for
    # it before refusing (ADVICE r11)
    if probe_frac is not None and not 0.0 < probe_frac <= 1.0:
        raise ValueError(
            f"probe_frac={probe_frac} is outside (0, 1] — it is the "
            "fraction of the trained model's cells each query probes"
        )
    cents, cells = ivf_train_quantizer(
        corpus, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        quantize_bits=quantize_bits, cells=cells,
    )
    if probe_frac is not None:
        nprobe = max(1, math.ceil(probe_frac * cells))
    # per-row assignment against the materialized model — spread-safe
    c = assign_to_centroid(_spread_scan(corpus), cents, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", vec_col: "_cv", "vec_norm": "_cn"}
    )
    if nprobe > 1:
        q = assign_top_centroids(queries, cents, nprobe, id_col, vec_col).drop(
            "probe_rank"
        )
    else:
        q = assign_to_centroid(queries, cents, id_col, vec_col)
    q = q.withColumnsRenamed({id_col: "query_id", vec_col: "_qv", "vec_norm": "_qn"})
    return _ivf_probe_topk(c, q, k)


def ivf_codebook(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """ONE-row per-dimension (min, max) scalar-quantization codebook
    over a vector corpus: ``_code_mn`` / ``_code_mx`` as
    ``array<double>`` in dimension order. The shared parameter record
    of the stored int8 probe tier — the same per-dim min/max scaling
    as ``operators/quantize.py::quantize_codes_long`` (floor, never
    round — the cross-engine half-tie rule), reshaped into a
    broadcastable row so coding a vector is a single narrow
    ``transform`` instead of a posexplode/groupBy per batch.

    Shape: one narrow posexplode, one dim-keyed aggregate (output =
    n_dims rows, map-side combined), one 1-row reassembly — the
    ``quantized_centroid_sums`` cost class. Deterministic at any
    partitioning (min/max are order-free)."""
    ex = corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).withColumn(
        "x", F.col("x").cast("double")
    )
    stats = ex.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("_code_mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("_code_mx"),
    )


def _int8_code_expr(vec, mn, mx):
    """uint8 code array for ``vec`` under the (``mn``, ``mx``) codebook
    arrays: floor((x - mn) * 255 / (mx - mn)), clamped into [0, 255] —
    the clamp is a no-op for the corpus the codebook was fit on and
    the documented out-of-range rule for adopted-codebook coding of
    query batches and appends (the codebook, like the coarse
    quantizer, is ADOPTED, never re-fit mid-stream). A constant
    dimension codes to 0 (the ``quantize_codes_long`` rule — a 0/0
    NULL would silently desynchronize the array). All engine-portable
    double arithmetic + FLOOR, so any engine regenerates identical
    codes."""
    return F.transform(
        vec,
        lambda x, i: F.when(F.get(mx, i) == F.get(mn, i), F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (x.cast("double") - F.get(mn, i))
                        * F.lit(255.0)
                        / (F.get(mx, i) - F.get(mn, i))
                    ).cast("int"),
                ),
            )
        ),
    )


def _int8_norm2_expr(a):
    """Σ code² of a uint8 code array as INT (≤ 64·255² ≈ 4.2M) — the
    per-VECTOR half of the d2 dot identity, computed once per stored
    row at build/append time and once per query row at probe time."""
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0), lambda acc, v: acc + v
    )


def _int8_dot_expr(a, b):
    """Σ aᵢ·bᵢ of two uint8 code arrays as INT — the per-PAIR half of
    the d2 identity: one multiply-add fold, the same per-pair op count
    as the float tier's prenormed cosine dot (the first cut folded
    (a-b)² per pair — 3 integer ops/element instead of 2 — and
    measured ~1.6× the float probe at sf10; with norms hoisted to the
    per-vector side, d2 = |a|² + |b|² − 2·a·b restores op parity).
    Everything stays exact integer arithmetic, so distances and ties
    are still bit-identical on any engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0), lambda acc, v: acc + v
    )


def ivf_index_tables(
    corpus: DataFrame,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
    cells: int | None = None,
    store_codes: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE IVF index: (centroids, assignments) — the
    stored-state posture of ``minhash_signature_table`` applied to the
    ANN tier. ``ann_ivf_autok`` pays the one irreducible n·√n build
    (train + full-corpus assignment) inside every call; at 100 TB that
    build is paid ONCE, written to parquet, and amortized over every
    query batch thereafter — this function is that split.

    ``centroids``: the K-row model (centroid_id, centroid) stamped
    with the layout it was built under — ``_cells`` (the cell count)
    and ``_qbits`` (quantize_bits, -1 for the float tier) as constant
    columns, ~free in parquet and self-describing on read, the
    ``minhash_signature_table`` rule: stored state is the parameter
    record, consumers ADOPT rather than re-specify.

    Both tables also carry ``_model_id`` — a true model identity
    (order-independent ``bit_xor`` of per-centroid ``xxhash64`` over
    (centroid_id, centroid, qbits)) — because ``_cells`` alone cannot
    distinguish two models: a re-materialized model over a grown
    corpus can land on the same isqrt cell count (400 and 435 vectors
    both give 20 cells), so pairing new centroids with stale
    assignments would pass a cells-only gate and return silently
    wrong neighbors (ADVICE r09). ``check_ivf_layout`` compares the
    stamp; ``ivf_index_append`` propagates it onto appended rows.

    ``assignments``: one row per corpus vector — (id, vector,
    vec_norm, centroid_id, ``_cells``, ``_model_id``). Persist it
    ``.write.partitionBy("centroid_id")``: the per-batch probe join is
    an equi-join on the partition column, so Spark's dynamic partition
    pruning narrows each query batch's read to its probed cells —
    the band-index trick, but free, because the cell id IS the join
    key (no derived bucket index needed).

    The K-row model is pinned eagerly (localCheckpoint) before either
    output is derived: previously the centroids write and the
    assignments write each re-ran the final training aggregate; now
    both (and the ``_model_id`` aggregate) read the pinned K rows.
    The assignments frame stays lazy; write centroids first (the
    small one) so a torn write leaves an orphaned model rather than
    orphaned bulk.

    ``store_codes`` (round 12 — VERDICT r11 item 1): additionally fit
    a per-dimension int8 codebook over the corpus (``ivf_codebook``)
    and store each vector's uint8 code array as ``_codes`` beside its
    float vector (plus ``_cn2``, the per-row code norm² the probe's d2
    identity hoists out of the pair loop). This is the read lever for
    the probe dial — 3.7× fewer column bytes measured at sf10
    (BASELINE.md §round-12) — and because
    both live as COLUMNS of one parquet table, the code-space probe
    (``ann_ivf_query_stored_int8``) reads only the codes column of the
    probed cells while the exact re-rank reads the float column of
    only the shortlist's cells (parquet column pruning does the
    splitting; no second table, no extra join key). The codebook
    arrays ride on the centroids table (``_code_mn`` / ``_code_mx`` —
    K copies of 64 doubles, ~free) and both tables carry
    ``_codebook_id`` (xxhash64 over the arrays) so
    ``check_ivf_codes_layout`` refuses codes paired with a codebook
    they were not produced under — the ``_model_id`` rule applied to
    the scalar quantizer."""
    cents, n_cells = ivf_train_quantizer(
        corpus, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        quantize_bits=quantize_bits, cells=cells,
    )
    # no checkpoint: the trainer already returns the model as a K-row
    # 1-slice LOCAL source (round 13) — re-materializing it here was
    # the pre-r13 guard against re-running the final-update subtree
    qb = -1 if quantize_bits is None else quantize_bits
    mid = cents.agg(
        F.bit_xor(
            F.xxhash64(F.col("centroid_id"), F.col("centroid"), F.lit(qb))
        ).alias("_model_id")
    )
    centroids = (
        cents.crossJoin(F.broadcast(mid))
        .withColumn("_cells", F.lit(n_cells))
        .withColumn("_qbits", F.lit(qb))
    )
    assignments = (
        # per-row assignment against the materialized model — spread-safe;
        # the codebook's min/max aggregates below read the ORIGINAL
        # corpus (order-free anyway)
        assign_to_centroid(_spread_scan(corpus), cents, id_col, vec_col)
        .crossJoin(F.broadcast(mid))
        .withColumn("_cells", F.lit(n_cells))
    )
    if store_codes:
        # pin the 1-row codebook: it feeds the centroids stamp AND the
        # per-vector coding below, and without the pin each consumer
        # would re-run the corpus min/max pass (the cents rule)
        book = (
            ivf_codebook(corpus, vec_col)
            .withColumn("_codebook_id", F.xxhash64("_code_mn", "_code_mx"))
            .localCheckpoint(eager=True)
        )
        centroids = centroids.crossJoin(F.broadcast(book))
        assignments = (
            assignments.crossJoin(F.broadcast(book))
            .withColumn(
                "_codes",
                _int8_code_expr(
                    F.col(vec_col), F.col("_code_mn"), F.col("_code_mx")
                ),
            )
            # per-row code norm²: the hoisted half of the probe's d2
            # identity (see _int8_dot_expr) — paid once per vector at
            # build time instead of once per candidate pair per query
            .withColumn("_cn2", _int8_norm2_expr(F.col("_codes")))
            .drop("_code_mn", "_code_mx")
        )
    return centroids, assignments


def check_ivf_layout(
    centroids: DataFrame, assignments: DataFrame
) -> tuple[int, int, int]:
    """Structural gate for a stored IVF index: both tables must carry
    the self-describing columns and agree on the MODEL IDENTITY —
    probing an assignments table with a model it was not built under
    would score against cells that were never assigned (silently
    wrong neighbors, not an error). ``_cells`` alone is not identity
    (two models over corpora of 400 and 435 vectors both land on 20
    cells — ADVICE r09), so the gate compares ``_model_id``, the
    content hash ``ivf_index_tables`` stamps on both tables, with the
    cells check kept as the cheaper first tripwire. Returns
    (cells, qbits, model_id). 1-row probes only — parquet footer
    work, the ``check_signature_layout`` rule."""
    miss_c = {"centroid_id", "centroid", "_cells", "_qbits", "_model_id"} - set(
        centroids.columns
    )
    if miss_c:
        raise ValueError(
            f"stored IVF centroids table is missing column(s) "
            f"{sorted(miss_c)} — not an ivf_index_tables output; "
            "re-materialize the index with ivf_index_tables(corpus)"
        )
    miss_a = {"centroid_id", "_cells", "_model_id"} - set(assignments.columns)
    if miss_a:
        raise ValueError(
            f"stored IVF assignments table is missing column(s) "
            f"{sorted(miss_a)} — not an ivf_index_tables output; "
            "re-materialize the index with ivf_index_tables(corpus)"
        )
    pc = centroids.select("_cells", "_qbits", "_model_id").limit(1).collect()
    pa = assignments.select("_cells", "_model_id").limit(1).collect()
    if not pc or not pa:
        raise ValueError(
            "stored IVF index is empty — cannot infer its layout; "
            "re-materialize the index with ivf_index_tables(corpus)"
        )
    if pc[0]["_cells"] != pa[0]["_cells"]:
        raise ValueError(
            f"stored IVF centroids were built with cells="
            f"{pc[0]['_cells']} but the assignments table carries "
            f"cells={pa[0]['_cells']} — the two tables describe "
            "different models; re-materialize BOTH with "
            "ivf_index_tables(corpus)"
        )
    if pc[0]["_model_id"] != pa[0]["_model_id"]:
        raise ValueError(
            f"stored IVF centroids carry model_id={pc[0]['_model_id']} "
            f"but the assignments table carries model_id="
            f"{pa[0]['_model_id']} — same cell count, DIFFERENT model "
            "(e.g. a re-materialized quantizer paired with stale "
            "assignments); probing would return silently wrong "
            "neighbors. Re-materialize BOTH with "
            "ivf_index_tables(corpus)"
        )
    return int(pc[0]["_cells"]), int(pc[0]["_qbits"]), int(pc[0]["_model_id"])


def ann_ivf_query_stored(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_layout: bool = False,
    probe_frac: float | None = None,
) -> DataFrame:
    """Top-k against a STORED IVF index (``ivf_index_tables`` output
    read back from parquet): layout-gate the pair, assign the query
    batch against the stored model (one broadcast of K rows — the
    corpus is never rescanned, never re-assigned), equi-join on
    centroid_id against the stored assignments, per-query top-k.
    Per-batch cost is q·nprobe·√n scoring plus the probed cells' read
    — with assignments partitioned by centroid_id, dynamic partition
    pruning keeps that read to the batch's cells.

    ``probe_frac`` is the PRODUCTION probe dial (VERDICT r10 item 1):
    probe a fixed FRACTION of the stored model's cells — nprobe =
    max(1, ceil(probe_frac · cells)) — instead of a fixed integer.
    A fixed nprobe is scale-blind: the cell count grows as √n, so the
    probed SHARE of the corpus shrinks as the index grows and recall
    decays with it (BENCH_IVF_RECALL_r10_sf10: recall@10 at nprobe=1
    fell 0.142 → 0.094 across one decade of corpus growth, while any
    fixed probed fraction holds — BASELINE.md §round-11 measures the
    frac dial at both decades). The cell count comes from the stored
    model's own ``_cells`` stamp (the layout gate already reads it;
    under ``trust_layout`` a 1-row footer probe fetches it), so a
    user's recall target survives corpus growth and re-materialization
    without re-tuning. When set, ``probe_frac`` overrides ``nprobe``.

    Output is bit-identical to running ``ann_ivf_autok`` end-to-end
    with the same parameters (parity-tested): the index changes WHEN
    the build cost is paid, never the answer."""
    cells = None
    if not trust_layout:
        cells, _, _ = check_ivf_layout(centroids, assignments)
    if probe_frac is not None:
        if not 0.0 < probe_frac <= 1.0:
            raise ValueError(
                f"probe_frac={probe_frac} is outside (0, 1] — it is the "
                "fraction of the stored model's cells each query probes"
            )
        if cells is None:
            probe = centroids.select("_cells").limit(1).collect()
            if not probe:
                raise ValueError(
                    "stored IVF centroids table is empty — cannot derive "
                    "the cell count probe_frac scales against"
                )
            cells = int(probe[0]["_cells"])
        nprobe = max(1, math.ceil(probe_frac * cells))
    model = centroids.select("centroid_id", "centroid")
    c = assignments.drop("_cells", "_model_id").withColumnsRenamed(
        {id_col: "neighbor_id", vec_col: "_cv", "vec_norm": "_cn"}
    )
    if nprobe > 1:
        q = assign_top_centroids(queries, model, nprobe, id_col, vec_col).drop(
            "probe_rank"
        )
    else:
        q = assign_to_centroid(queries, model, id_col, vec_col)
    q = q.withColumnsRenamed({id_col: "query_id", vec_col: "_qv", "vec_norm": "_qn"})
    return _ivf_probe_topk(c, q, k)


def check_ivf_codes_layout(
    centroids: DataFrame, assignments: DataFrame
) -> tuple[int, int, int, int]:
    """``check_ivf_layout`` extended to the int8 tier: both tables must
    also carry the codes surface and agree on the CODEBOOK identity.
    A codes column paired with a codebook it was not produced under
    decodes every stored vector against the wrong scale — silently
    wrong shortlists, not an error — so the gate compares
    ``_codebook_id`` (the content hash ``ivf_index_tables`` stamps on
    both tables) after the model-identity check. Returns
    (cells, qbits, model_id, codebook_id); same 1-row-probe cost
    class."""
    cells, qbits, model_id = check_ivf_layout(centroids, assignments)
    miss_c = {"_code_mn", "_code_mx", "_codebook_id"} - set(centroids.columns)
    if miss_c:
        raise ValueError(
            f"stored IVF centroids table is missing codes column(s) "
            f"{sorted(miss_c)} — not an ivf_index_tables(store_codes="
            "True) output; re-materialize the index with "
            "ivf_index_tables(corpus, store_codes=True)"
        )
    miss_a = {"_codes", "_cn2", "_codebook_id"} - set(assignments.columns)
    if miss_a:
        raise ValueError(
            f"stored IVF assignments table is missing codes column(s) "
            f"{sorted(miss_a)} — not an ivf_index_tables(store_codes="
            "True) output; re-materialize the index with "
            "ivf_index_tables(corpus, store_codes=True)"
        )
    pc = centroids.select("_codebook_id").limit(1).collect()
    pa = assignments.select("_codebook_id").limit(1).collect()
    if pc[0]["_codebook_id"] != pa[0]["_codebook_id"]:
        raise ValueError(
            f"stored IVF centroids carry codebook_id="
            f"{pc[0]['_codebook_id']} but the assignments table carries "
            f"codebook_id={pa[0]['_codebook_id']} — the stored codes "
            "were produced under a DIFFERENT per-dimension scale, so "
            "code-space distances against them are meaningless. "
            "Re-materialize BOTH with ivf_index_tables(corpus, "
            "store_codes=True)"
        )
    return cells, qbits, model_id, int(pc[0]["_codebook_id"])


def ann_ivf_query_stored_int8(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_layout: bool = False,
    probe_frac: float | None = None,
    rerank_factor: int | None = 4,
) -> DataFrame:
    """Top-k against a stored int8-coded IVF index
    (``ivf_index_tables(store_codes=True)`` output) — the probe-cost
    lever on the fraction dial (VERDICT r11 item 1): cell routing is
    identical to ``ann_ivf_query_stored`` (query batch assigned
    against the K-row float model; nprobe = ceil(probe_frac · cells)
    from the stored ``_cells`` stamp), but candidate SCORING runs in
    quantized code space — the probe scan reads only the uint8
    ``_codes`` column of the probed cells (¼ the bytes of the float
    column; parquet column pruning never touches ``embedding``), and
    the distance kernel is exact-integer squared L2, so the shortlist
    ranking is bit-deterministic.

    ``rerank_factor``: the per-query code-space shortlist is
    ``rerank_factor · k`` candidates; their FLOAT vectors are then
    fetched (a broadcast join back onto the assignments table —
    dynamic partition pruning narrows that read to the shortlist's
    cells, and only the shortlist's row groups pay the float-column
    bytes) and the final top-k is exact cosine with the float tier's
    tie rule, so output shape and semantics match
    ``ann_ivf_query_stored`` — within the probed cells, quantization
    can only cost recall when a true top-k member falls outside the
    top ``rerank_factor·k`` by code distance
    (test-locked ≥the knn_int8 recall bar; measured ~1.0 at factor 4).
    ``rerank_factor=None`` skips the re-rank and returns the raw
    code-space ranking as (query_id, neighbor_id, code_d2, rank) —
    the cheapest read path when downstream only needs ids.

    Cost at the dial (measured, BASELINE.md §round-12): the probed
    READ VOLUME drops 3.7× at any fraction (parquet-footer accounting
    at sf10: 52.5 MB of float+norm columns vs 14.1 MB of codes+norm² —
    the quantity that bounds the probe on object storage at 100 TB).
    On a warm-page-cache single node the probe is COMPUTE-bound and
    this tier measures ~1.25× the float probe's wall time (the per-pair
    fold is op-matched via the d2 dot identity; the remainder is the
    wider shortlist window and the re-rank pass) — the same regime
    honesty as the band index: choose this tier when the scan is
    byte-bound, which a 100 TB corpus on object storage always is."""
    cells = None
    if not trust_layout:
        cells, _, _, _ = check_ivf_codes_layout(centroids, assignments)
    if probe_frac is not None:
        if not 0.0 < probe_frac <= 1.0:
            raise ValueError(
                f"probe_frac={probe_frac} is outside (0, 1] — it is the "
                "fraction of the stored model's cells each query probes"
            )
        if cells is None:
            probe = centroids.select("_cells").limit(1).collect()
            if not probe:
                raise ValueError(
                    "stored IVF centroids table is empty — cannot derive "
                    "the cell count probe_frac scales against"
                )
            cells = int(probe[0]["_cells"])
        nprobe = max(1, math.ceil(probe_frac * cells))
    model = centroids.select("centroid_id", "centroid")
    # the codebook rides the centroids table; 1 row, broadcast — the
    # query batch is coded JVM-side with zero driver round trip
    book = F.broadcast(centroids.select("_code_mn", "_code_mx").limit(1))
    if nprobe > 1:
        q = assign_top_centroids(queries, model, nprobe, id_col, vec_col).drop(
            "probe_rank"
        )
    else:
        q = assign_to_centroid(queries, model, id_col, vec_col)
    q = (
        q.withColumnsRenamed({id_col: "query_id", vec_col: "_qv"})
        .crossJoin(book)
        .withColumn(
            "_qcodes",
            _int8_code_expr(F.col("_qv"), F.col("_code_mn"), F.col("_code_mx")),
        )
        .withColumn("_qn2", _int8_norm2_expr(F.col("_qcodes")))
        .select("query_id", "centroid_id", "_qcodes", "_qn2")
    )
    cand = assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("centroid_id"),
        F.col("_codes"),
        F.col("_cn2"),
    )
    shortlist_n = k if rerank_factor is None else rerank_factor * k
    w = Window.partitionBy("query_id").orderBy(
        F.col("code_d2").asc(), F.col("neighbor_id").asc()
    )
    # d2 = |c|² + |q|² − 2·c·q, all exact INT: the only per-pair fold
    # is the dot — norms were paid per vector (stored _cn2, per-query
    # _qn2), so per-pair op count matches the float tier's prenormed
    # cosine instead of tripling it
    d2 = (
        F.col("_cn2") + F.col("_qn2")
        - F.lit(2) * _int8_dot_expr(F.col("_codes"), F.col("_qcodes"))
    ).cast("long")
    short = (
        cand.join(q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("code_d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_n)
    )
    if rerank_factor is None:
        return short.select("query_id", "neighbor_id", "code_d2", "rank")
    # exact float re-rank of the shortlist: the broadcast of
    # q·rerank_factor·k (query, neighbor, cell) rows prunes the float
    # read to the shortlist's cells (DPP on the partition column) and
    # the cosine is the float tier's exact expression + tie rule
    pairs = F.broadcast(
        short.select("query_id", "neighbor_id", "centroid_id")
    )
    cvecs = assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("centroid_id"),
        F.col(vec_col).alias("_cv"),
        F.col("vec_norm").alias("_cn"),
    ).join(pairs, ["centroid_id", "neighbor_id"])
    qvecs = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ).withColumn("_qn", norm2(F.col("_qv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cvecs.join(qvecs, "query_id")
        .withColumn(
            "cosine_sim",
            cosine_prenorm(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_index_append(
    centroids: DataFrame,
    assignments: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_layout: bool = False,
    max_below_floor_share: float | None = None,
    sim_floor: float = 0.5,
    scale_bits: int = 20,
) -> DataFrame:
    """The MAINTENANCE half of the persisted IVF index: assignment
    rows for a NEW vector batch against the STORED model, shaped
    exactly like the stored assignments (``_cells`` and ``_model_id``
    stamps included — appended rows carry the identity of the model
    that assigned them, so a later ``check_ivf_layout`` against a
    different re-materialized model refuses) so
    the caller appends them with
    ``.write.mode("append").partitionBy("centroid_id")``.

    ``max_below_floor_share`` is the drift CONTRACT (the dedup
    family's adopted-split recall validation, applied to the adopted
    quantizer): when set, the fresh batch is first scored by
    ``ivf_quantizer_drift`` and the append REFUSES — with the
    re-materialize remedy — if more than this share of it falls below
    ``sim_floor``. Appending drifted vectors is silently wrong, not
    slow: they land in cells that do not describe them, and every
    later probe scores the wrong candidate lists. The report is a
    1-row driver probe (one narrow batch pass), the same class of
    bounded collect as the ambient-similarity probe.

    The model is ADOPTED, never retrained mid-append — the dedup
    ingest's rule: retraining against the grown corpus would produce a
    second model, and rows assigned under different models must never
    share an assignments table (``check_ivf_layout``'s reason to
    exist). Retune by re-materializing with ``ivf_index_tables``.

    Replay idempotence: ids already present in the stored assignments
    are anti-joined out first (a column-pruned scan of the stored id
    column — the same bounded cost the dedup ingest pays for its
    corpus-id anti-join), so a replayed batch appends nothing.

    Assignment is a pure function of (vector, model): appending a
    batch then querying is bit-identical to having built the index
    over the union with the same model (parity-tested). An int8-coded
    table (``store_codes=True`` build) gets its appended rows coded
    under the STORED codebook automatically — see the in-body note."""
    cells, _, model_id = check_ivf_layout(centroids, assignments)
    model = centroids.select("centroid_id", "centroid")
    fresh = batch.join(assignments.select(id_col), id_col, "left_anti")
    if max_below_floor_share is not None:
        # Pin before the drift probe: without it the anti-join (one
        # column-pruned stored-id scan + the batch scan) runs twice —
        # once materialized for the report collect, again inside the
        # returned assignment plan (ADVICE r09). The pinned frame is
        # batch-sized, the ingest's pinned-batch pattern.
        fresh = fresh.localCheckpoint(eager=True)
        rep = ivf_quantizer_drift(
            centroids, fresh, sim_floor=sim_floor, scale_bits=scale_bits,
            id_col=id_col, vec_col=vec_col,
        ).collect()
        if rep and rep[0]["n_vecs"]:
            share = rep[0]["n_low"] / rep[0]["n_vecs"]
            if share > max_below_floor_share:
                raise QuantizerDriftError(
                    f"quantizer drift: {rep[0]['n_low']}/{rep[0]['n_vecs']} "
                    f"({share:.2f}) of the batch scores below "
                    f"sim_floor={sim_floor} against the stored model, over "
                    f"the max_below_floor_share={max_below_floor_share} "
                    "contract — appending drifted vectors lands them in "
                    "cells that do not describe them. Re-materialize the "
                    "index with ivf_index_tables(grown_corpus) and retry"
                )
    out = (
        assign_to_centroid(fresh, model, id_col, vec_col)
        .withColumn("_cells", F.lit(cells))
        .withColumn("_model_id", F.lit(model_id))
    )
    if "_codes" in assignments.columns:
        # the stored table is int8-coded: appended rows must carry
        # codes under the STORED codebook (adopted, never re-fit —
        # re-fitting min/max over the grown corpus would produce a
        # second scale, and codes under different scales must never
        # share a table; out-of-range values clamp, and a batch
        # drifted enough for clamping to matter is what the drift
        # contract above refuses). Rows without codes would make every
        # later code-space probe NULL out their distances — silently
        # dropped candidates, not an error.
        miss = {"_code_mn", "_code_mx", "_codebook_id"} - set(centroids.columns)
        if miss:
            raise ValueError(
                f"stored assignments carry _codes but the centroids "
                f"table is missing codebook column(s) {sorted(miss)} — "
                "the codes cannot be extended without their scale; "
                "re-materialize BOTH with ivf_index_tables(corpus, "
                "store_codes=True)"
            )
        book = F.broadcast(
            centroids.select("_code_mn", "_code_mx", "_codebook_id").limit(1)
        )
        out = (
            out.crossJoin(book)
            .withColumn(
                "_codes",
                _int8_code_expr(
                    F.col(vec_col), F.col("_code_mn"), F.col("_code_mx")
                ),
            )
            .withColumn("_cn2", _int8_norm2_expr(F.col("_codes")))
            .drop("_code_mn", "_code_mx")
        )
    return out


def write_ivf_assignments(
    assignments: DataFrame, path: str, mode: str = "error"
) -> None:
    """The WRITE for an IVF assignments table (build or append) — the
    shared bucketed-state writer (operators/stored_state.py) on the
    cell column: at most ONE file per touched cell per write. Measured
    (tools/bench_ivf_stored.py --appends, sf1): the unrepartitioned
    build write alone taxed each probe ~3× (2.0s vs 0.71s on the
    compacted layout)."""
    from ffi_etl_spark.operators.stored_state import write_bucketed

    write_bucketed(assignments, path, "centroid_id", mode)


def append_ivf_assignments(new_rows: DataFrame, path: str) -> None:
    """``write_ivf_assignments`` in append mode — for
    ``ivf_index_append`` output. One file per touched cell per append,
    which is what keeps ``compact_ivf_assignments`` rare."""
    write_ivf_assignments(new_rows, path, mode="append")


# Per-cell file-count threshold for stored-assignments compaction.
# Each ivf_index_append lands one-or-more parquet files into every
# touched centroid_id directory, so after N appends a probe that reads
# a cell pays N parquet footer opens before any data — the exact
# footer-open regression INGEST_r9.json measured for the band index's
# first cut. 16 bounds the per-cell footer cost while keeping
# compaction rare (it only ever rewrites the crowded cells).
_COMPACT_FILES_PER_CELL = 16


def compact_ivf_assignments(
    spark,
    path: str,
    files_per_cell: int = _COMPACT_FILES_PER_CELL,
    cells: list[int] | None = None,
) -> int:
    """Per-cell incremental compaction for a stored IVF assignments
    table (VERDICT r09 item 5) — the shared bucketed-state compaction
    (operators/stored_state.py) on the cell column: read ONLY the
    crowded cells (partition-pruned), dynamic-partition-overwrite
    exactly those cells back as one file each. Cost tracks the crowded
    fraction, never the corpus.

    ``cells``: the explicit work list. When the CALLER already knows
    which cells are crowded — the streaming sink maintains a per-cell
    append counter seeded by one listing (streaming/ann_ingest.py) —
    passing it skips this function's own file listing, which on object
    stores is a recursive walk of the ever-growing assignments tree
    (ADVICE r10). When None, cells holding more than ``files_per_cell``
    files are discovered from the read's planning-time listing.

    Rewrites files only — never rows — so probe results are
    bit-identical before and after (parity-gated by ``ann_ivf_churn``).
    Returns the number of cells compacted (0 = nothing touched)."""
    from ffi_etl_spark.operators.stored_state import (
        compact_buckets,
        crowded_buckets,
    )

    if cells is None:
        cells = crowded_buckets(
            spark.read.parquet(path), "centroid_id", files_per_cell
        )
    return compact_buckets(spark, path, "centroid_id", cells)


def ivf_quantizer_drift(
    centroids: DataFrame,
    batch: DataFrame,
    sim_floor: float = 0.5,
    scale_bits: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-row staleness report for a stored coarse quantizer against an
    incoming batch — the signal that decides WHEN ``ivf_index_append``
    must give way to a re-materialize (the recall-contract analogue of
    the dedup family's adopted-split validation): a drifted corpus
    assigns new vectors far from every centroid, so probe joins score
    against cells that no longer describe the data.

    Exact-integer outputs only (the house oracle-parity rule):

    * ``n_vecs`` — batch size;
    * ``q_sim_sum`` — SUM(FLOOR(best_sim·2^scale_bits)) as BIGINT
      (mean best-sim = q_sim_sum / n_vecs / 2^scale_bits, divided by
      the READER — no float accumulation crosses an engine boundary);
    * ``n_low`` — vectors whose quantized best-sim falls below the
      quantized ``sim_floor`` (compared in integer space, so the
      threshold itself cannot float-drift);
    * ``cells_touched`` / ``max_cell_n`` — occupancy spread of the
      batch's assignments (a batch crowding into few cells is the
      other staleness mode: the probe join's per-cell candidate lists
      grow past √n).

    One narrow pass: the K-row model broadcasts, each vector scores K
    cosines, the argmax struct keeps (sim, cell), and ONE global
    aggregate reduces to the report row."""
    model = centroids.select("centroid_id", "centroid")
    packed = pack_centroids(model)
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (dot(F.col(vec_col), c["centroid"]) / (F.col("_n") * c["cnorm"])).alias(
                "sim"
            ),
            (-c["centroid_id"]).alias("ncid"),
        ),
    )
    scale = float(1 << scale_bits)
    q_floor = math_floor_lit(sim_floor, scale_bits)
    per_vec = (
        batch.withColumn("_n", norm2(F.col(vec_col)))
        .crossJoin(F.broadcast(packed))
        .withColumn("_best", F.array_max(scored))
        .select(
            F.floor(F.col("_best.sim") * F.lit(scale)).cast("long").alias("_qsim"),
            (-F.col("_best.ncid")).alias("_cell"),
        )
    )
    per_cell = per_vec.groupBy("_cell").agg(
        F.count(F.lit(1)).alias("_cn"),
        F.sum("_qsim").alias("_cqs"),
        F.sum(F.when(F.col("_qsim") < F.lit(q_floor), 1).otherwise(0)).alias("_clow"),
    )
    return per_cell.agg(
        F.sum("_cn").alias("n_vecs"),
        F.sum("_cqs").alias("q_sim_sum"),
        F.sum("_clow").alias("n_low"),
        F.count(F.lit(1)).alias("cells_touched"),
        F.max("_cn").alias("max_cell_n"),
    )


def math_floor_lit(x: float, scale_bits: int) -> int:
    """FLOOR(x·2^k) as a Python int — the quantized twin of a float
    threshold, computed once driver-side so both engines compare in
    integer space against the SAME literal."""
    import math

    return math.floor(x * (1 << scale_bits))


def brp_hyperplanes(num_hash_tables: int, dim: int) -> list[list[float]]:
    """Deterministic 'random' projection directions for the BRP tier:
    component (t, i) is ``(md5_int32("brp:t:i") % 2001 - 1000) / 1000``
    — a rational in [-1, 1] derivable bit-identically by any engine
    with md5 (the functions/hashing.py convention), replacing MLlib's
    JVM-seeded Gaussians so the whole tier is oracle-checkable
    (VERDICT r04 recipe d). Not Gaussian, but for LSH bucketing any
    fixed full-rank direction family preserves the locality guarantee;
    ``bucket_length`` absorbs the scale."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"brp:{t}:{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for i in range(dim)
        ]
        for t in range(num_hash_tables)
    ]


def ann_brp_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Euclidean near-pair search by bucketed random projection LSH,
    deterministic edition: each of ``num_hash_tables`` tables buckets a
    vector by ``floor(dot(v, r_t) / bucket_length)`` over the
    md5-derived direction ``r_t`` (``brp_hyperplanes``); candidates
    share any (table, bucket); the verify is the exact sequential-fold
    Euclidean distance (bit-identical to DuckDB's list arithmetic, the
    knn/COS precedent). Same scale shape as MLlib's
    ``approxSimilarityJoin``: bucket equi-join, no cross product,
    distinct-before-verify. Output: id_a, id_b, euclid_dist.

    The stock MLlib path lives on as ``ann_brp_lsh_pairs_mllib`` for
    interop; its JVM-seeded hyperplanes are engine-private, which is
    exactly why the GATED tier uses this formulation."""
    planes = brp_hyperplanes(num_hash_tables, dim)
    v = F.col(vec_col).cast("array<double>")
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(t)),
                F.floor(
                    dot(v, F.array(*[F.lit(x) for x in planes[t]]))
                    / F.lit(bucket_length)
                ).cast("string"),
            )
            for t in range(num_hash_tables)
        ]
    )
    b = corpus.select(
        F.col(id_col).alias("_id"), v.alias("_v"), F.explode(keys).alias("_bk")
    )
    left = b.alias("l")
    right = b.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l._bk") == F.col("r._bk")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._v").alias("_va"),
            F.col("r._v").alias("_vb"),
        )
        .distinct()
    )
    diff = F.zip_with(F.col("_va"), F.col("_vb"), lambda a, bb: a - bb)
    return (
        pairs.withColumn("euclid_dist", F.sqrt(dot(diff, diff)))
        .filter(F.col("euclid_dist") <= F.lit(threshold))
        .select("id_a", "id_b", "euclid_dist")
    )


def ann_brp_lsh_pairs_mllib(
    corpus: DataFrame,
    threshold: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-pair search via stock pyspark.ml
    ``BucketedRandomProjectionLSH`` (Euclidean): the library counterpart
    to the hand-rolled tiers, kept for MLlib interop (same
    ``approxSimilarityJoin`` scale path: bucket join, no cross
    product). Seeded for determinism within one engine, but the random
    hyperplanes are JVM-private — differential gating uses
    ``ann_brp_lsh_pairs``. Output: id_a, id_b, euclid_dist."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, threshold, distCol="euclid_dist")
    return (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            "euclid_dist",
        )
    )


def _materialize_k_rows(spark, df: DataFrame) -> DataFrame:
    """Eagerly materialize a K-row model frame as a driver collect
    re-planned as a K-row local source (optimization round 12, guide
    §1.2): the old persist+count per round left the model an
    InMemoryRelation that every later consumer re-scanned through the
    block manager, and needed prev-round unpersist bookkeeping.
    Collecting the K rows (the sanctioned K-row driver decision point —
    same eager barrier the count was) re-plans the model as a K-row
    local source (Scan ExistingRDD in PySpark), dropping the count
    action and the cache build/scan jobs — measured 33 → 23 jobs on the
    gated autok build — with nothing pinned in executor storage, and
    the values bit-identical (longs exactly; Python round-trips IEEE
    doubles losslessly). K is centroid-count-bounded at every scale;
    guard k before calling if a caller ever lets it grow past
    driver-collect territory.

    Round 13: the rows parallelize into ONE slice, not
    defaultParallelism slices — every later broadcast of the model runs
    ``executeCollect`` over this source, and a 32-slice K-row RDD made
    each of those a 32-task job (the round-12 driver bench measured the
    ANN family running FASTER on 8 cores than 32 purely from that
    tiny-task scheduling: scaling ratios 0.76/0.82)."""
    rows = df.collect()
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=df.schema
    )


#: k bound under which the model materialization collects the K·dim
#: ELEMENT rows and reassembles the arrays on the driver (one fewer
#: sequential exchange+stage per model build). Element rows carry ~4×
#: the per-value driver overhead of the packed K-row arrays, so past
#: this k the K-row collect (same data volume, packed) stays the safe
#: form — the bound covers every gate/bench path (cells ≤ 22 at the
#: gate, 447 at the sf10 ladder) while a 100 TB √n-cells build falls
#: back automatically.
_FUSED_COLLECT_MAX_K = 4096


def _materialize_centroids(
    spark,
    assigned: DataFrame,
    k: int,
    label_col: str,
    vec_col: str,
    quantize_bits: int | None,
) -> DataFrame:
    """Materialize a centroid model (the ``compute_centroids`` /
    ``quantized_centroid_sums`` update over ``assigned``) as a K-row
    1-slice local source.

    For k ≤ ``_FUSED_COLLECT_MAX_K`` the collect happens at the
    (centroid_id, pos, v) ELEMENT stage and the dim-ordered arrays are
    reassembled on the driver — value-identical to the JVM reassembly
    (``array_sort(collect_list(struct(pos, v)))`` with unique pos keys
    ≡ a Python sort on pos; BIGINT sums cast to double round the same
    way in both runtimes, and means round-trip as exact IEEE doubles)
    while skipping the K·dim → K exchange and its AQE stage-job.
    Larger k keeps the two-stage aggregate and collects the packed K
    rows (round-12 form, now 1-slice)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    if k > _FUSED_COLLECT_MAX_K:
        if quantize_bits is not None:
            cents = quantized_centroid_sums(
                assigned, label_col=label_col, vec_col=vec_col,
                scale_bits=quantize_bits,
            )
        else:
            cents = compute_centroids(assigned, 0, label_col, vec_col)
        return _materialize_k_rows(spark, cents)
    elements = _centroid_elements(assigned, label_col, vec_col, quantize_bits)
    by_cid: dict = {}
    for r in elements.collect():
        by_cid.setdefault(r["centroid_id"], []).append((r["pos"], r["v"]))
    data = [
        (cid, [float(v) for _, v in sorted(vals)])
        for cid, vals in by_cid.items()
    ]
    schema = StructType(
        [
            StructField(
                "centroid_id", elements.schema["centroid_id"].dataType, True
            ),
            StructField("centroid", ArrayType(DoubleType(), True), True),
        ]
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema=schema
    )


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 5,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
) -> DataFrame:
    """Spherical k-means by Lloyd iteration — the engine's
    representative ITERATIVE algorithm (genuinely non-SQL-expressible:
    each round's input is the previous round's output, so the gate is
    the numpy differential in tests/test_similarity_kmeans.py, not a
    DuckDB oracle).

    Per round: (1) update — mean centroid per cluster via the exploded
    K·dim aggregate (compute_centroids; cos(x, m) == cos(x, m/|m|), so
    the un-normalized mean assigns identically to the true spherical
    centroid and no normalization pass is needed); (2) assign — the
    packed 1-row broadcast argmax (assign_to_centroid), ties to lowest
    centroid_id. Init is deterministic random-partition
    (``pmod(id, k)``), so runs are reproducible modulo float summation
    order in the means.

    Scale: each round is one narrow corpus pass + one K·dim-group
    aggregate; the K-row centroid model is materialized per round as a
    driver collect re-planned as a K-row local source (driver never
    sees the corpus — only K rows cross, and eagerly so the lazy chain
    doesn't re-run every PRIOR round's assignment inside each later
    round's plan; the re-plan drops the per-round count action and the
    InMemoryRelation that every later consumer re-scanned, and nothing
    lingers in executor storage). The corpus itself is scanned once per
    round: persist it first at production scale.

    ``quantize_bits`` switches the update step to
    ``quantized_centroid_sums`` — exact integer centroids, so the whole
    iteration is bit-identical across engines and partitionings
    (assignment is unchanged: cosine is scale-invariant, the sum
    assigns like the mean). This is the ORACLE-GRADEABLE mode; the
    default float mean keeps full precision for production use.
    """
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(F.col(id_col), F.lit(k)).cast("int").alias("centroid_id"),
    )
    spark = corpus.sparkSession
    for _ in range(n_iter):
        cents = _materialize_centroids(
            spark, assigned, k, "centroid_id", vec_col, quantize_bits
        )
        assigned = assign_to_centroid(corpus, cents, id_col=id_col, vec_col=vec_col)
    return assigned


def kmeans_cluster_profile(assigned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-cluster summary of a ``kmeans_lloyd`` assignment:
    (centroid_id, n_members, min member id) — the stable, small surface
    for the rows-only gate."""
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("first_member"),
        )
        .orderBy("centroid_id")
    )


def dedup_semantic(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    min_sim: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embeddings, then compare
    pairs ONLY within each cluster and flag cosine similarity
    ≥ ``min_sim`` — semantic near-duplicates that character/token tiers
    (MinHash, SimHash) cannot see because the texts differ while the
    meaning doesn't.

    Candidate bound: clustering cuts all-pairs n² to ~n²/k (uniform
    clusters); k scales with the corpus so per-cluster membership — and
    therefore the within-cluster join — stays bounded. A skewed
    mega-cluster degrades toward all-pairs: raise k, or pre-split hot
    clusters with the sign-LSH tier (`ann_sign_lsh_pairs`), which is
    this operator's bucketed cousin with random-hyperplane buckets
    instead of learned ones. Exact duplicates are ALWAYS caught:
    identical vectors produce identical deterministic assignments
    (argmax with lowest-id tie-break), so they land in the same
    cluster by construction.

    With the default float-mean k-means the gate is rows-only (the
    kmeans numpy differential + the subset/recall tests carry
    correctness); ``quantize_bits`` switches to the integer-centroid
    deterministic mode, making the WHOLE pipeline bit-stable across
    engines — the gated ``dedup_semantic`` query runs that mode under
    a full unrolled-CTE DuckDB oracle. The pair verify itself is the
    bit-deterministic in-order cosine fold from functions/vectors.py
    either way.

    NOTE: this operator persists intermediate state (the per-round
    centroid models and the final assignment) that stays pinned after
    the result is materialized — call ``spark.catalog.clearCache()``
    when done if the session continues with other heavy work."""
    assigned = kmeans_lloyd(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        quantize_bits=quantize_bits,
    )
    if "vec_norm" not in assigned.columns:  # n_iter=0: init-only assignment
        assigned = assigned.withColumn("vec_norm", norm2(F.col(vec_col)))
    # pin the assignment: it feeds BOTH sides of the within-cluster
    # self-join, and its lineage embeds every k-means round — without
    # persist the whole iteration re-executes per side (plan audit
    # showed 17 corpus scans unpinned; the dedup-family _pin idiom,
    # reclaimed by catalog.clearCache like the signature tables)
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    a = assigned.select(
        "centroid_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("vec_norm").alias("_na"),
    )
    b = assigned.select(
        "centroid_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("vec_norm").alias("_nb"),
    )
    return (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        # zero vectors have no direction: drop them BEFORE the cosine —
        # Spark orders NaN above every number, so a NaN similarity
        # would otherwise pass any >= filter (review find)
        .where((F.col("_na") > 0) & (F.col("_nb") > 0))
        # the assignment already carries vec_norm: ONE dot fold per
        # pair via cosine_prenorm (the knn/ivf idiom), computed once
        # as a column shared by the filter and the output
        .withColumn(
            "cosine_sim",
            cosine_prenorm(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        )
        .where(F.col("cosine_sim") >= min_sim)
        .select(
            "centroid_id",
            "id_a",
            "id_b",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )
