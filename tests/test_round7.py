"""Round-7 additions: adaptive-minhash gating, raw-text roundtrips,
and the split pin that keeps the dedup_minhash_adaptive oracle honest.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table


def test_adaptive_split_pinned_on_testdata(spark):
    """The dedup_minhash_adaptive ORACLE (queries_pkg/round7.py)
    hard-codes the (24, 4, 6) split because the deterministic ambient
    probe picks exactly that on this corpus at every gate SF. If the
    probe, the chooser, or the testdata drifts so the pick changes,
    this test fails BEFORE the oracle silently mismatches."""
    from ffi_etl_spark.functions.lsh_tuning import choose_minhash_split
    from ffi_etl_spark.operators.dedup import estimate_ambient_jaccard

    for sf in ("0.001", "0.01", "0.1"):  # every SF the driver gates at
        docs = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
        amb = estimate_ambient_jaccard(docs)
        assert choose_minhash_split(amb, 0.5) == (24, 4, 6), (sf, amb)


def test_adaptive_found_set_supersets_default_at_dup_sim(spark, sf_dir):
    """The adaptive tier's contract at the true-dup threshold: every
    j >= 0.9 pair the default split finds, the tuned split finds too
    (its S-curve recall at 0.9 is higher: 0.952 vs 0.943), and both
    agree on the exact Jaccard value — banding changes the CANDIDATE
    set only, never a verified value."""
    from ffi_etl_spark.operators.dedup import (
        dedup_minhash_adaptive,
        dedup_minhash_lsh,
    )

    docs = table(spark, sf_dir, "documents")
    default = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dedup_minhash_lsh(docs).filter(F.col("jaccard_sim") >= 0.9).collect()
    }
    adaptive = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dedup_minhash_adaptive(docs, fast=False)
        .filter(F.col("jaccard_sim") >= 0.9)
        .collect()
    }
    assert set(default) <= set(adaptive)
    for p in default:
        assert adaptive[p] == default[p]


def test_ivf_autok_cells_pinned_and_scaling():
    """The ann_ivf_autok ORACLE (queries_pkg/round7.py) hard-codes
    cells=22 because choose_ivf_cells(500) == 22 for the fixed gate
    slice; and the rule itself is the √n curve the docstring claims."""
    import math

    from ffi_etl_spark.operators.similarity import choose_ivf_cells
    from ffi_etl_spark.queries_pkg.oracle_sql import AUTOK_CELLS, AUTOK_SLICE

    assert choose_ivf_cells(AUTOK_SLICE) == AUTOK_CELLS
    for n in (0, 1, 4, 500, 20_000, 60_000):
        assert choose_ivf_cells(n) == max(2, math.isqrt(max(n, 0)))
    # monotone non-decreasing in n — a bigger corpus never gets fewer cells
    picks = [choose_ivf_cells(n) for n in (100, 1_000, 10_000, 100_000)]
    assert picks == sorted(picks)


def test_ivf_autok_matches_fixed_cells_and_trains_real_cells(spark, sf_dir):
    """ann_ivf_autok with cells passed explicitly equals the auto pick
    (the probe only chooses the number), and the trained quantizer
    actually spreads the corpus over many cells (a degenerate 1-cell
    training would silently turn IVF into brute force)."""
    from ffi_etl_spark.operators.similarity import ann_ivf_autok

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    auto = ann_ivf_autok(emb, queries, quantize_bits=20)
    fixed = ann_ivf_autok(emb, queries, quantize_bits=20, cells=22)
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, fixed.collect()))
    assert a == b and len(a) > 0
    # every query got some neighbors and ranks are within k
    assert max(r[3] for r in a) <= 10
    # ADVICE r07: enforce the docstring's spread claim — replay the
    # training the operator runs (500 vectors < 64·cells, so the
    # training sample IS the corpus) and assert the corpus lands in
    # many cells with no mega-cell: a degenerate near-1-cell quantizer
    # would silently turn IVF into brute force while the auto==fixed
    # and rank assertions above still pass.
    from ffi_etl_spark.operators.similarity import (
        assign_to_centroid,
        kmeans_lloyd,
        quantized_centroid_sums,
    )

    assigned = kmeans_lloyd(emb, k=22, n_iter=2, quantize_bits=20)
    cents = quantized_centroid_sums(
        assigned, label_col="centroid_id", vec_col="embedding", scale_bits=20
    )
    per_cell = (
        assign_to_centroid(emb, cents, "vec_id", "embedding")
        .groupBy("centroid_id")
        .count()
        .collect()
    )
    n_corpus = emb.count()
    assert len(per_cell) >= 8, "quantizer collapsed to too few cells"
    assert max(r["count"] for r in per_cell) <= n_corpus // 2, (
        "a single cell holds most of the corpus — probe joins would "
        "degrade toward brute force"
    )
    spark.catalog.clearCache()


def test_text_lines_roundtrip_counts(spark, sf_dir):
    from ffi_etl_spark.queries import QUERIES

    row = QUERIES["text_lines_roundtrip"](spark, sf_dir).collect()[0]
    n_docs = table(spark, sf_dir, "documents").count()
    assert row["n_lines"] == n_docs
    assert row["total_chars"] > 0 and row["content_checksum"] > 0


def test_documents_whole_roundtrip_content(spark, sf_dir):
    """Whole-file ingest returns each subset document's EXACT text:
    md5 and length both match the parquet truth per doc_id."""
    from ffi_etl_spark.queries import QUERIES
    from ffi_etl_spark.queries_pkg.round7 import _WHOLE_DOC_MOD

    got = {
        r["doc_id"]: (r["n_chars_file"], r["content_hash"])
        for r in QUERIES["documents_whole_roundtrip"](spark, sf_dir).collect()
    }
    want = {
        r["doc_id"]: (r["n"], r["h"])
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _WHOLE_DOC_MOD == 0)
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n"),
            F.md5("text").alias("h"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_signature_layout_gate_detects_old_state(spark, sf_dir):
    """VERDICT r06 item 6: pre-round-6 persisted MinHash state (string
    band keys) must error with the regenerate remedy, not die in a
    union type-mismatch or silently miss duplicates."""
    import pytest

    from ffi_etl_spark.operators.dedup import (
        check_signature_layout,
        dedup_minhash_incremental,
        minhash_signature_table,
    )

    docs = table(spark, sf_dir, "documents").limit(50)
    # explicit split: this test exercises the layout GATE mechanics;
    # the round-8 adaptive default would pick (24, 4) on this corpus
    good = minhash_signature_table(docs, num_perm=12, bands=3, fast=True)
    check_signature_layout(good, 12, 3)  # current layout passes

    # simulate the pre-round-6 layout: '_'-joined string band keys
    old = good.withColumn(
        "_bands",
        F.transform(
            "_bands",
            lambda s: F.concat_ws(
                "_", s["s0"].cast("string"), s["s1"].cast("string")
            ),
        ),
    )
    with pytest.raises(ValueError, match="pre-round-6"):
        check_signature_layout(old, 12, 3)

    batch = (
        table(spark, sf_dir, "documents")
        .limit(60)
        .join(good.select("doc_id"), "doc_id", "left_anti")
    )
    with pytest.raises(ValueError, match="regenerate"):
        dedup_minhash_incremental(None, batch, corpus_hashed=old, fast=True)

    # parameter mismatch: a (12, 3) table consumed as (12, 4)
    with pytest.raises(ValueError, match="parameters must match"):
        check_signature_layout(good, 12, 4)

    # EQUAL-RATIO mismatch (review finding): a (24, 6) table consumed
    # as (12, 3) has the same rows-per-band struct shape — only the
    # 1-row size probe can catch it
    wide = minhash_signature_table(docs, num_perm=24, bands=6, fast=True)
    check_signature_layout(wide, 24, 6)
    with pytest.raises(ValueError, match="parameters must match"):
        check_signature_layout(wide, 12, 3)


def test_stream_ingest_fails_fast_on_old_layout_state(spark, tmp_path):
    """The streaming reconcile must refuse to append new-layout rows
    onto an old-layout stored signature table: the batch errors with
    the remedy instead of accumulating a mixed-layout table."""
    import json

    import pytest

    from ffi_etl_spark.operators.dedup import minhash_signature_table
    from ffi_etl_spark.streaming.ingest import stream_dedup_ingest

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus_path = str(tmp_path / "corpus")
    pairs_path = str(tmp_path / "pairs")
    sigs_path = str(tmp_path / "sigs")

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    seed = spark.createDataFrame([(1, text)], "doc_id long, text string")
    seed.write.parquet(corpus_path)
    # old-layout state on disk for the same corpus doc
    minhash_signature_table(seed).withColumn(
        "_bands",
        F.transform("_bands", lambda s: s["s0"].cast("string")),
    ).write.parquet(sigs_path)

    with open(in_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": "totally new words " * 20}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(in_dir))
    q = (
        stream_dedup_ingest(
            stream, corpus_path, pairs_path, str(tmp_path / "ckpt"), sigs_path=sigs_path
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="pre-round-6"):
        q.awaitTermination(120)
    # nothing was appended onto the stale state
    assert spark.read.parquet(sigs_path).count() == 1


def test_whole_roundtrip_cleans_stale_files(spark, sf_dir):
    """A stale file from a previous run (different subset) must not
    leak extra rows into the roundtrip output."""
    import tempfile

    from ffi_etl_spark.queries import QUERIES

    root = os.path.join(
        tempfile.gettempdir(), f"ffi_etl_wholedocs_{os.path.basename(sf_dir)}"
    )
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "doc_999999.txt"), "w") as f:
        f.write("stale")
    out = QUERIES["documents_whole_roundtrip"](spark, sf_dir)
    assert out.filter(F.col("doc_id") == 999999).count() == 0
