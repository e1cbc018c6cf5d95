"""Numpy step-by-step differential for the iterative spherical k-means
(operators/similarity.py::kmeans_lloyd) — the correctness gate standing
in for a DuckDB oracle, which cannot express the round-over-round
recursion."""

from __future__ import annotations

import numpy as np
import pytest

from ffi_etl_spark.operators.similarity import kmeans_cluster_profile, kmeans_lloyd


def _np_kmeans(vecs: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """Replica of kmeans_lloyd's exact contract: random-partition init
    (id % k), un-normalized mean update, cosine argmax assign with ties
    to the lowest centroid id (np.argmax keeps the first max)."""
    labels = np.arange(len(vecs)) % k
    for _ in range(n_iter):
        cents = np.stack([vecs[labels == c].mean(axis=0) for c in sorted(set(labels))])
        cids = np.array(sorted(set(labels)))
        sims = (vecs @ cents.T) / (
            np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(cents, axis=1)[None, :]
        )
        labels = cids[np.argmax(sims, axis=1)]
    return labels


@pytest.fixture()
def clustered_v25(spark):
    """25 vectors in 5 well-separated direction cones (no cosine ties,
    gaps ≫ float-summation noise), ids deliberately NOT aligned with
    the true clusters so the init is wrong and Lloyd must move."""
    rng = np.random.default_rng(7)
    base = np.eye(5)
    rows = []
    for i in range(25):
        true = i // 5
        v = base[true] * 3.0 + rng.normal(0, 0.15, 5)
        rows.append((i, [float(x) for x in v]))
    return rows


def test_kmeans_matches_numpy(spark, clustered_v25):
    df = spark.createDataFrame(clustered_v25, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(df, k=5, n_iter=3).collect()
    }
    vecs = np.array([v for _, v in clustered_v25])
    want = _np_kmeans(vecs, k=5, n_iter=3)
    assert got == {i: int(want[i]) for i in range(25)}
    # each planted cone ends up pure (never split across clusters);
    # full 5-cluster recovery is NOT asserted — random-partition init
    # can legitimately collapse clusters, and numpy above collapses
    # identically, which is exactly what the differential proves
    planted = {}
    for i, c in got.items():
        planted.setdefault(i // 5, set()).add(c)
    assert all(len(s) == 1 for s in planted.values())
    assert len({next(iter(s)) for s in planted.values()}) >= 2


def test_kmeans_profile_counts(spark, clustered_v25):
    df = spark.createDataFrame(clustered_v25, "vec_id long, embedding array<double>")
    prof = kmeans_cluster_profile(kmeans_lloyd(df, k=5, n_iter=3)).collect()
    assert sum(r["n_members"] for r in prof) == 25
    assert all(r["n_members"] > 0 for r in prof)
    assert all(r["first_member"] >= 0 for r in prof)


def _np_kmeans_quantized(vecs: np.ndarray, k: int, n_iter: int, bits: int) -> np.ndarray:
    """Replica of the deterministic mode: centroid = exact integer SUM
    of floor(x * 2^bits) per element (quantized_centroid_sums); assign
    is unchanged (cosine is scale-invariant over the un-divided sum)."""
    labels = np.arange(len(vecs)) % k
    scale = float(1 << bits)
    for _ in range(n_iter):
        q = np.floor(vecs * scale)
        cents = np.stack([q[labels == c].sum(axis=0) for c in sorted(set(labels))])
        cids = np.array(sorted(set(labels)))
        sims = (vecs @ cents.T) / (
            np.linalg.norm(vecs, axis=1)[:, None] * np.linalg.norm(cents, axis=1)[None, :]
        )
        labels = cids[np.argmax(sims, axis=1)]
    return labels


def test_kmeans_quantized_matches_numpy(spark, clustered_v25):
    """The oracle-gradeable integer-centroid mode, differentially
    checked round by round against a numpy replica — the same contract
    the unrolled DuckDB CTE oracle (oracle_sql.kmeans_det_cte) encodes."""
    df = spark.createDataFrame(clustered_v25, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(df, k=5, n_iter=3, quantize_bits=20).collect()
    }
    vecs = np.array([v for _, v in clustered_v25])
    want = _np_kmeans_quantized(vecs, k=5, n_iter=3, bits=20)
    assert got == {i: int(want[i]) for i in range(25)}
    # at 2^-20 quantization the planted-cone geometry is untouched:
    # the quantized run recovers the same pure cones as the float mode
    planted = {}
    for i, c in got.items():
        planted.setdefault(i // 5, set()).add(c)
    assert all(len(s) == 1 for s in planted.values())


def test_quantized_centroid_sums_exact(spark):
    """Element sums are exact integers: no float-mean accumulation."""
    from ffi_etl_spark.operators.similarity import quantized_centroid_sums

    rows = [(0, [0.5, -0.3]), (1, [0.25, 0.7]), (2, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = df.withColumn("centroid_id", (df.vec_id % 2).cast("int"))
    out = {r["centroid_id"]: r["centroid"] for r in quantized_centroid_sums(assigned, scale_bits=2).collect()}
    # scale 4: floor(.5*4)+floor(1*4)=2+4=6 ; floor(-.3*4)+floor(2*4)=-2+8=6
    assert out[0] == [6.0, 6.0]
    # floor(.25*4)=1 ; floor(.7*4)=2
    assert out[1] == [1.0, 2.0]
