"""Round-9 tests: the band-bucketed probe index (VERDICT r08 item 1 —
per-batch ingest cost must track the batch, not the corpus), the
exactly-one / recall-contract guards on split adoption (ADVICE r08),
and the split stamp on the pairs audit.
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table


def _docs_split(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return corpus, batch


def test_band_index_pruned_parity(spark, sf_dir):
    """The contract the whole layout change rests on: the incremental
    operator returns BIT-IDENTICAL pairs whether the corpus side comes
    from the stored doc-level state (full band scan) or from the
    bucket-PRUNED band index — pruning is lossless because a band
    collision implies equal band coordinates implies equal bucket."""
    from ffi_etl_spark.operators.dedup import (
        band_bucket_expr,
        dedup_minhash_incremental,
        minhash_band_index,
        minhash_signature_table,
    )

    corpus, batch = _docs_split(spark, sf_dir)
    sigs = minhash_signature_table(corpus).localCheckpoint(eager=True)
    batch_hashed = minhash_signature_table(
        batch, num_perm=24, bands=4
    ).localCheckpoint(eager=True)

    base = dedup_minhash_incremental(
        None, batch, corpus_hashed=sigs, batch_hashed=batch_hashed
    )
    index = minhash_band_index(sigs)

    # prune exactly the way the ingest does: batch buckets only
    bkts = sorted(
        r["_bkt"]
        for r in minhash_band_index(batch_hashed).select("_bkt").distinct().collect()
    )
    pruned = index.filter(F.col("_bkt").isin(bkts))
    got = dedup_minhash_incremental(
        None,
        batch,
        corpus_hashed=sigs,
        batch_hashed=batch_hashed,
        corpus_band_index=pruned,
    )

    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    b_rows = sorted(base.collect(), key=key)
    g_rows = sorted(got.collect(), key=key)
    assert [tuple(r) for r in b_rows] == [tuple(r) for r in g_rows]
    assert len(b_rows) > 0  # the parity is over a non-trivial pair set

    # and the bucket function is what makes pruning lossless: every
    # corpus row colliding with a batch band key shares its bucket
    recomputed = index.withColumn(
        "_re", band_bucket_expr(64)
    ).filter(F.col("_re") != F.col("_bkt"))
    assert recomputed.count() == 0


def test_band_index_self_describing_buckets(spark, sf_dir):
    """_nbkt rides in the index rows; inference adopts it, and frames
    that are not an index fail with the rebuild remedy."""
    from ffi_etl_spark.operators.dedup import (
        infer_band_index_buckets,
        minhash_band_index,
        minhash_signature_table,
    )

    corpus, _ = _docs_split(spark, sf_dir)
    sigs = minhash_signature_table(corpus.limit(50))
    idx = minhash_band_index(sigs, n_buckets=16)
    assert infer_band_index_buckets(idx) == 16
    # one row per (doc, band): docs x bands
    assert idx.count() == sigs.count() * 4

    with pytest.raises(ValueError, match="missing column"):
        infer_band_index_buckets(sigs)
    with pytest.raises(ValueError, match="empty"):
        infer_band_index_buckets(idx.filter(F.lit(False)))


def test_resolve_or_adopt_split_exactly_one(spark, sf_dir):
    """ADVICE r08: passing both corpus and corpus_hashed silently
    ignored corpus; passing neither died far from the cause."""
    from ffi_etl_spark.operators.dedup import (
        minhash_signature_table,
        resolve_or_adopt_split,
    )

    corpus, _ = _docs_split(spark, sf_dir)
    sigs = minhash_signature_table(corpus.limit(20), num_perm=12, bands=3)
    with pytest.raises(ValueError, match="exactly one"):
        resolve_or_adopt_split(corpus, sigs)
    with pytest.raises(ValueError, match="exactly one"):
        resolve_or_adopt_split(None, None)


def test_adopted_split_validates_explicit_recall_contract(spark, sf_dir):
    """ADVICE r08: state pinned at a split that cannot meet an
    EXPLICITLY demanded recall floor must raise with the re-materialize
    remedy; the same adoption with no explicit knobs stays silent."""
    from ffi_etl_spark.operators.dedup import (
        dedup_minhash_incremental,
        minhash_signature_table,
        resolve_or_adopt_split,
    )

    corpus, batch = _docs_split(spark, sf_dir)
    # bands=1, rows=12: S-curve recall at 0.9 is 0.9^12 ~ 0.28
    weak = minhash_signature_table(corpus.limit(30), num_perm=12, bands=1)

    assert resolve_or_adopt_split(None, weak) == (12, 1)  # no contract: fine
    with pytest.raises(ValueError, match="recall_floor"):
        resolve_or_adopt_split(None, weak, recall_floor=0.95)
    with pytest.raises(ValueError, match="Re-materialize|re-materialize"):
        dedup_minhash_incremental(
            None,
            batch.limit(5),
            corpus_hashed=weak,
            dup_sim=0.9,
            recall_floor=0.95,
        )


def _land(in_dir, name, rows):
    with open(in_dir / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain(spark, in_dir, ckpt, **kwargs):
    from ffi_etl_spark.streaming.ingest import stream_dedup_ingest

    stream = spark.readStream.schema("doc_id long, text string").json(str(in_dir))
    q = stream_dedup_ingest(stream, **kwargs).trigger(availableNow=True).start()
    q.awaitTermination(120)


def test_stream_ingest_band_index_parity_and_heal(spark, tmp_path):
    """band_index_path mode reproduces the sigs-mode corpus decisions
    batch for batch, keeps the index 1:bands with the signature state,
    self-heals a wiped index by recompute, and stamps the split onto
    the pairs audit (ADVICE r08)."""
    base = (
        "key agg row scan slow fast table value part hash value table part "
        "a row fast merge batch part value fast spark a a the line sort "
    ) * 4
    uniq = "completely different content about rivers mountains weather " * 12
    extra = "entirely novel astronomy telescopes and planetary orbits data " * 12

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    paths = dict(
        corpus_path=str(tmp_path / "corpus"),
        pairs_path=str(tmp_path / "pairs"),
        sigs_path=str(tmp_path / "sigs"),
        band_index_path=str(tmp_path / "bands"),
    )

    _land(in_dir, "b1.json", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": uniq},
        {"doc_id": 3, "text": uniq + "tiny tail change"},  # dies vs 2 (new_new)
    ])
    _drain(spark, in_dir, None, checkpoint=str(tmp_path / "c1"), **paths)
    assert {r.doc_id for r in spark.read.parquet(paths["corpus_path"]).collect()} == {1, 2}

    _land(in_dir, "b2.json", [
        {"doc_id": 5, "text": base + "small suffix drift"},  # dies vs corpus 1
        {"doc_id": 6, "text": extra},                        # survives
    ])
    _drain(spark, in_dir, None, checkpoint=str(tmp_path / "c2"), **paths)
    assert {r.doc_id for r in spark.read.parquet(paths["corpus_path"]).collect()} == {1, 2, 6}

    sigs = spark.read.parquet(paths["sigs_path"])
    idx = spark.read.parquet(paths["band_index_path"])
    from ffi_etl_spark.operators.dedup import infer_signature_layout

    num_perm, bands = infer_signature_layout(sigs)
    assert idx.count() == sigs.count() * bands  # 1:bands invariant
    assert "_bkt" in idx.columns  # partition column survives the roundtrip

    # the audit rows carry the split that produced them
    pairs = spark.read.parquet(paths["pairs_path"])
    stamps = {(r.num_perm, r.bands) for r in pairs.select("num_perm", "bands").collect()}
    assert stamps == {(num_perm, bands)}
    kinds = {r.pair_type for r in pairs.collect()}
    assert kinds == {"new_new", "new_old"}

    # crash simulation: the DERIVED index is wiped; the next batch's
    # count-probe reconcile rebuilds it before deduping
    shutil.rmtree(paths["band_index_path"])
    _land(in_dir, "b3.json", [
        {"doc_id": 7, "text": extra + "minor trailing edit"},  # dies vs 6
        {"doc_id": 8, "text": "fresh topic entirely about oceanic currents " * 12},
    ])
    _drain(spark, in_dir, None, checkpoint=str(tmp_path / "c3"), **paths)
    assert {r.doc_id for r in spark.read.parquet(paths["corpus_path"]).collect()} == {1, 2, 6, 8}
    idx = spark.read.parquet(paths["band_index_path"])
    sigs = spark.read.parquet(paths["sigs_path"])
    assert idx.count() == sigs.count() * bands  # healed + extended


def test_stream_ingest_band_index_requires_sigs(spark, tmp_path):
    from ffi_etl_spark.streaming.ingest import stream_dedup_ingest

    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(tmp_path / "in")
    )
    with pytest.raises(ValueError, match="requires sigs_path"):
        stream_dedup_ingest(
            stream,
            str(tmp_path / "corpus"),
            str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
            band_index_path=str(tmp_path / "bands"),
        )


def test_stream_ingest_auto_band_index_threshold(spark, tmp_path):
    """Auto-enablement (TODO r9: the band index's trigger is a
    state-SIZE threshold, not a flag): below the byte threshold no
    index appears; above it the ingest derives the path from
    ``sigs_path``, maintains the index, and keeps corpus decisions
    bit-identical to the plain sigs mode; once auto-created the index
    stays maintained even when a later drain's threshold would say no
    (sticky — abandoning derived state would leave it to rot)."""
    import os

    base = (
        "key agg row scan slow fast table value part hash value table part "
        "a row fast merge batch part value fast spark a a the line sort "
    ) * 4
    uniq = "completely different content about rivers mountains weather " * 12
    extra = "entirely novel astronomy telescopes and planetary orbits data " * 12
    b1 = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": uniq},
        {"doc_id": 3, "text": uniq + "tiny tail change"},  # dies vs 2
    ]
    b2 = [
        {"doc_id": 5, "text": base + "small suffix drift"},  # dies vs corpus 1
        {"doc_id": 6, "text": extra},  # survives
    ]

    def run(tag, **extra_kwargs):
        root = tmp_path / tag
        in_dir = root / "in"
        in_dir.mkdir(parents=True)
        paths = dict(
            corpus_path=str(root / "corpus"),
            pairs_path=str(root / "pairs"),
            sigs_path=str(root / "sigs"),
        )
        _land(in_dir, "b1.json", b1)
        _drain(spark, in_dir, None, checkpoint=str(root / "c1"), **paths, **extra_kwargs)
        _land(in_dir, "b2.json", b2)
        _drain(spark, in_dir, None, checkpoint=str(root / "c2"), **paths, **extra_kwargs)
        ids = {r.doc_id for r in spark.read.parquet(paths["corpus_path"]).collect()}
        return paths, ids

    # default threshold (64 GiB): sandbox-scale state must NOT trigger
    plain_paths, plain_ids = run("plain")
    assert plain_ids == {1, 2, 6}
    assert not os.path.exists(plain_paths["sigs_path"] + "_band_index")

    # 1-byte threshold: fires on the first batch that sees stored state
    auto_paths, auto_ids = run("auto", band_index_auto_bytes=1)
    assert auto_ids == plain_ids  # the index changes the plan, not the answer
    idx_path = auto_paths["sigs_path"] + "_band_index"
    from ffi_etl_spark.operators.dedup import infer_signature_layout

    sigs = spark.read.parquet(auto_paths["sigs_path"])
    idx = spark.read.parquet(idx_path)
    _, bands = infer_signature_layout(sigs)
    assert idx.count() == sigs.count() * bands  # 1:bands invariant

    # sticky: a later drain under the huge default threshold must keep
    # maintaining the auto-created index rather than strand it
    root = tmp_path / "auto"
    _land(root / "in", "b3.json", [
        {"doc_id": 7, "text": extra + "minor trailing edit"},  # dies vs 6
        {"doc_id": 8, "text": "fresh topic entirely about oceanic currents " * 12},
    ])
    _drain(
        spark,
        root / "in",
        None,
        checkpoint=str(root / "c3"),
        corpus_path=auto_paths["corpus_path"],
        pairs_path=auto_paths["pairs_path"],
        sigs_path=auto_paths["sigs_path"],
    )
    sigs = spark.read.parquet(auto_paths["sigs_path"])
    idx = spark.read.parquet(idx_path)
    assert {r.doc_id for r in spark.read.parquet(auto_paths["corpus_path"]).collect()} == {1, 2, 6, 8}
    assert idx.count() == sigs.count() * bands  # extended, not stranded

    # band_index_auto_bytes=None disables the automatic entirely
    off_paths, off_ids = run("off", band_index_auto_bytes=None)
    assert off_ids == plain_ids
    assert not os.path.exists(off_paths["sigs_path"] + "_band_index")


def test_stream_ingest_auto_band_index_probe_cached(spark, tmp_path, monkeypatch):
    """The auto-enablement size probe runs at most once per
    AUTO_INDEX_RECHECK_BATCHES micro-batches per sink, not per batch
    (ADVICE r09: getContentSummary is a full recursive listing of the
    ever-growing sigs directory on object stores), and a positive
    decision is cached for the sink's lifetime."""
    from ffi_etl_spark.streaming import ingest as ingest_mod

    calls = {"n": 0}
    real = ingest_mod._auto_band_index

    def counting(spark_, sigs_path_, threshold_):
        calls["n"] += 1
        return real(spark_, sigs_path_, threshold_)

    monkeypatch.setattr(ingest_mod, "_auto_band_index", counting)

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12

    def run(tag, **kw):
        root = tmp_path / tag
        in_dir = root / "in"
        in_dir.mkdir(parents=True)
        for i in range(3):
            _land(in_dir, f"b{i}.json", [{"doc_id": i, "text": f"{i} {text}"}])
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = (
            ingest_mod.stream_dedup_ingest(
                stream,
                str(root / "corpus"),
                str(root / "pairs"),
                str(root / "ckpt"),
                sigs_path=str(root / "sigs"),
                **kw,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return root

    # below threshold: batch 0 has no stored state (no probe eligible);
    # batches 1 and 2 are eligible, but only the first probes — the
    # negative decision holds for AUTO_INDEX_RECHECK_BATCHES batches
    calls["n"] = 0
    run("below")
    assert calls["n"] == 1

    # 1-byte threshold: the first eligible batch probes, fires, and the
    # positive decision is cached — later batches maintain the index
    # with zero further probes
    calls["n"] = 0
    root = run("fires", band_index_auto_bytes=1)
    assert calls["n"] == 1
    import os

    assert os.path.exists(str(root / "sigs") + "_band_index")


def test_stream_ingest_rejects_orphaned_band_index(spark, tmp_path):
    """A band index with no signature table beside it describes state
    the ingest cannot see — fail the batch loudly, like the orphaned
    signature gate (ADVICE r07)."""
    from ffi_etl_spark.operators.dedup import (
        minhash_band_index,
        minhash_signature_table,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon " * 20)], "doc_id long, text string"
    )
    sigs = minhash_signature_table(docs, num_perm=12, bands=3)
    minhash_band_index(sigs).write.partitionBy("_bkt").parquet(
        str(tmp_path / "bands")
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _land(in_dir, "b1.json", [{"doc_id": 9, "text": "some novel words " * 20}])

    with pytest.raises(Exception, match="band index exists"):
        _drain(
            spark,
            in_dir,
            None,
            checkpoint=str(tmp_path / "ckpt"),
            corpus_path=str(tmp_path / "corpus"),
            pairs_path=str(tmp_path / "pairs"),
            sigs_path=str(tmp_path / "sigs"),
            band_index_path=str(tmp_path / "bands"),
        )


# ---- domain-curation family (VERDICT r08 item 2) ----


def test_domain_cap_boundary_and_plan(spark):
    """Cap boundary: a domain at exactly the cap keeps everything, an
    over-cap domain keeps exactly cap with dense ranks 1..cap; the
    keep-set is partitioning-independent; and the physical plan runs
    the skew-safe two-phase top-k (partial WindowGroupLimit BEFORE the
    exchange — the property that bounds a mega-domain's shuffle volume
    at 100 TB)."""
    from ffi_etl_spark.operators.domains import domain_cap

    rows = [(i, "at_cap") for i in range(3)] + [(100 + i, "over_cap") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = domain_cap(df, cap=3, domain_col="source")
    per = {
        r.source: r.n for r in got.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {"at_cap": 3, "over_cap": 3}
    ranks = sorted(r.domain_rank for r in got.filter(F.col("source") == "over_cap").collect())
    assert ranks == [1, 2, 3]

    keep1 = {r.doc_id for r in got.collect()}
    keep2 = {r.doc_id for r in domain_cap(df.repartition(7), cap=3, domain_col="source").collect()}
    assert keep1 == keep2  # md5-rank keep-set is partitioning-independent

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_short_doc_domains_threshold(spark):
    from ffi_etl_spark.operators.domains import (
        domain_blocklist_filter,
        short_doc_domains,
    )

    rows = (
        [(i, "farm", 50) for i in range(2)] + [(10 + i, "farm", 500) for i in range(3)]  # 2/5 short
        + [(20 + i, "ok", 50) for i in range(1)] + [(30 + i, "ok", 500) for i in range(4)]  # 1/5 short
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    blocked = {r.source for r in short_doc_domains(df, max_short_share=0.3).collect()}
    assert blocked == {"farm"}
    kept = domain_blocklist_filter(df, short_doc_domains(df, max_short_share=0.3).select("source"))
    assert {r.source for r in kept.collect()} == {"ok"}


def test_domain_mix_report_exact_shares(spark):
    from ffi_etl_spark.operators.domains import domain_mix_report

    rows = [
        (1, "a", "one two three four"),   # 4 tokens
        (2, "a", "five six"),             # 2
        (3, "b", "seven eight nine"),     # 3
        (4, "c", "ten"),                  # 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.source: r for r in domain_mix_report(df).collect()}
    assert got["a"].n_tokens == 6 and got["a"].mix_rank == 1
    assert got["a"].token_share == 6 / 10
    assert got["b"].cum_tokens == 9 and got["b"].cum_token_share == 9 / 10
    assert got["c"].cum_tokens == 10 and got["c"].cum_token_share == 1.0


def test_chooser_scale_aware_budget():
    """Round-9 ladder cliff (BASELINE.md §sf10): a fixed probability
    budget is scale-blind — the chooser must tighten it to ≤
    AMBIENT_CANDS_PER_DOC expected ambient candidates per doc when the
    corpus size is known, and the wide signature menu must buy the
    sharper rows-per-band at sf10 scale while every gate-scale pick
    stays bit-identical to round 8."""
    from ffi_etl_spark.functions.lsh_tuning import (
        candidate_probability,
        choose_minhash_split,
    )

    wide = (24, 36, 48, 64)
    # sf10 regime: 494k docs at ambient 0.22 -> the 48-slot split
    assert choose_minhash_split(0.22, 0.5, num_perms=wide, n_docs=494_000) == (48, 6, 8)
    # the pick must still honor the recall floor at dup_sim
    assert candidate_probability(0.9, 6, 8) >= 0.95
    # gate-scale corpora: n_docs loosens nothing, picks unchanged
    for n in (450, 4500, 45_000, 49_448):
        assert choose_minhash_split(0.22, 0.5, n_docs=n) == (24, 4, 6), n
    # and without n_docs the round-8 contract is untouched
    assert choose_minhash_split(0.22, 0.5) == (24, 4, 6)


def test_resolve_split_wide_menu_threshold(spark, sf_dir):
    """resolve_minhash_split passes the corpus count through: below
    WIDE_CORPUS_DOCS the menu (and thus every gate pick) is the
    round-8 one — the sf0.001..0.1 pins in test_round8 cover the real
    corpora; this locks the threshold constant itself."""
    from ffi_etl_spark.operators.dedup import WIDE_CORPUS_DOCS

    assert WIDE_CORPUS_DOCS > 50_000  # all driver gate SFs stay narrow


def test_band_index_per_bucket_compaction(spark, sf_dir, tmp_path):
    """Per-bucket compaction: crowded buckets (> threshold files) are
    rewritten to one file each via dynamic partition overwrite with NO
    row lost or changed; buckets under the threshold are untouched."""
    from ffi_etl_spark.operators.dedup import (
        minhash_band_index,
        minhash_signature_table,
    )
    from ffi_etl_spark.streaming.ingest import (
        _COMPACT_FILES_PER_BUCKET,
        _compact_band_index,
        _crowded_buckets,
    )

    corpus, _ = _docs_split(spark, sf_dir)
    sigs = minhash_signature_table(
        corpus.limit(40), num_perm=12, bands=3
    ).localCheckpoint(eager=True)
    idx_rows = minhash_band_index(sigs, n_buckets=4).localCheckpoint(eager=True)
    path = str(tmp_path / "bands")
    for _ in range(_COMPACT_FILES_PER_BUCKET + 3):
        idx_rows.repartition("_bkt").write.partitionBy("_bkt").mode(
            "append"
        ).parquet(path)

    idx = spark.read.parquet(path)
    before = sorted(tuple(r) for r in idx.select("doc_id", "_band_idx").collect())
    assert _crowded_buckets(idx)  # the setup actually crowded something

    compacted = _compact_band_index(spark, idx, path)
    after = sorted(
        tuple(r) for r in compacted.select("doc_id", "_band_idx").collect()
    )
    assert after == before  # compaction moves bytes, never rows
    assert not _crowded_buckets(compacted)


def test_domain_token_cap_boundary_and_preprune(spark, sf_dir):
    """Token-budget boundary: the kept set is the greedy md5-ordered
    prefix whose inclusive cumsum fits; a doc exactly filling the
    budget is kept, the next is cut. The document-cap pre-prune is
    LOSSLESS: same keep set as a plain cumsum over the unpruned frame
    (every doc has >=1 token, so the prefix is <= budget docs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffi_etl_spark.operators.domains import domain_token_cap

    docs = table(spark, sf_dir, "documents").limit(200)
    budget = 300
    got = domain_token_cap(docs, token_budget=budget)
    rows = got.collect()
    assert rows, "budget keeps a non-trivial set"
    # per-domain inclusive totals never exceed the budget
    per = got.groupBy("source").agg(F.max("cum_tokens").alias("m")).collect()
    assert all(r.m <= budget for r in per)

    # plain-cumsum reference over the UNPRUNED frame
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = (
        docs.withColumn("_n", ntok)
        .withColumn("_c", F.sum("_n").over(w))
        .filter(F.col("_c") <= budget)
    )
    assert {r.doc_id for r in rows} == {r.doc_id for r in ref.collect()}

    # boundary: a crafted domain where doc 2 exactly fills the budget
    crafted = spark.createDataFrame(
        [(i, "d", "w " * 10) for i in range(1, 6)],
        "doc_id long, source string, text string",
    )  # 10 tokens each ("w "*10 strips to 10 words)
    kept = domain_token_cap(crafted, token_budget=20).collect()
    assert len(kept) == 2 and all(r.cum_tokens <= 20 for r in kept)
    assert max(r.cum_tokens for r in kept) == 20  # exact fill kept


def test_chooser_scale_contract_property_sweep():
    """Hypothesis-style sweep (deterministic grid, like round 8's
    chooser sweep): for any ambient/corpus-size/menu combination the
    returned split is structurally valid (num_perm from the menu,
    bands divides it) and — whenever ANY offered split can meet the
    recall floor at dup_sim — the returned one meets it too (the
    n-aware budget may trade candidate cost, never the recall
    contract)."""
    from ffi_etl_spark.functions.lsh_tuning import (
        candidate_probability,
        choose_minhash_split,
    )

    menus = [(12, 24, 36), (24, 36, 48, 64)]
    ambients = [i / 40 for i in range(0, 25)]  # 0.0 .. 0.6
    sizes = [None, 100, 5_000, 50_000, 150_000, 500_000, 5_000_000]
    for menu in menus:
        feasible_exists = any(
            candidate_probability(0.9, b, p // b) >= 0.95
            for p in menu
            for b in range(1, p + 1)
            if p % b == 0
        )
        for amb in ambients:
            for n in sizes:
                num_perm, bands, rows = choose_minhash_split(
                    amb, 0.5, num_perms=menu, n_docs=n
                )
                assert num_perm in menu
                assert bands * rows == num_perm
                if feasible_exists:
                    assert candidate_probability(0.9, bands, rows) >= 0.95, (
                        menu, amb, n)


# ---- persisted IVF index (round-9 late session) ----


def test_ivf_stored_parity_layout_and_dpp(spark, sf_dir, tmp_path):
    """The parquet-roundtripped IVF index answers bit-identically to
    the in-query build (the index changes WHEN the build cost is paid,
    never the answer), the layout gate rejects mismatched or mangled
    state with the re-materialize remedy, and the probe join's
    physical plan carries a dynamic-partition-pruning filter on the
    partitioned assignments scan — the free band-index analogue."""
    from ffi_etl_spark.operators.similarity import (
        ann_ivf_autok,
        ann_ivf_query_stored,
        check_ivf_layout,
        ivf_index_tables,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    direct = ann_ivf_autok(emb, queries, n_iter=2, quantize_bits=20)

    cents, assigns = ivf_index_tables(emb, n_iter=2, quantize_bits=20)
    cents.write.parquet(str(tmp_path / "c"))
    assigns.write.partitionBy("centroid_id").parquet(str(tmp_path / "a"))
    sc = spark.read.parquet(str(tmp_path / "c"))
    sa = spark.read.parquet(str(tmp_path / "a"))
    stored = ann_ivf_query_stored(sc, sa, queries)

    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    d_rows = sorted(direct.collect(), key=key)
    s_rows = sorted(stored.collect(), key=key)
    assert [tuple(r) for r in d_rows] == [tuple(r) for r in s_rows]
    assert len(d_rows) > 0

    # self-describing layout adopted from the stored model
    cells, qbits, model_id = check_ivf_layout(sc, sa)
    assert qbits == 20
    assert cells == sc.count()  # every cell non-empty on this slice
    assert model_id == sc.select("_model_id").first()[0]

    # DPP: the partitioned assignments read is pruned by the probe join
    plan = stored._sc._jvm.PythonSQLUtils.explainString(
        stored._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan

    # gate: mismatched cell counts between the two tables
    with pytest.raises(ValueError, match="different models"):
        check_ivf_layout(sc.withColumn("_cells", F.lit(999)), sa)
    # gate: SAME cell count, DIFFERENT model — the failure mode the
    # _model_id stamp exists to catch (ADVICE r09): a re-materialized
    # quantizer over a grown corpus can land on the identical isqrt
    # cell count, so pairing it with stale assignments passes a
    # cells-only gate and returns silently wrong neighbors.
    with pytest.raises(ValueError, match="DIFFERENT model"):
        check_ivf_layout(sc.withColumn("_model_id", F.col("_model_id") + 1), sa)
    # gate: not an index output at all
    with pytest.raises(ValueError, match="re-materialize"):
        check_ivf_layout(sc.drop("_qbits"), sa)
    with pytest.raises(ValueError, match="re-materialize"):
        check_ivf_layout(sc, sa.drop("_cells"))
    with pytest.raises(ValueError, match="re-materialize"):
        check_ivf_layout(sc, sa.drop("_model_id"))
    # gate: empty state cannot describe a layout
    with pytest.raises(ValueError, match="empty"):
        check_ivf_layout(sc.filter(F.lit(False)), sa)


def test_ivf_append_parity_idempotence_and_drift(spark, sf_dir, tmp_path):
    """Appending a batch against the stored model then querying is
    bit-identical to one index built over the union with the SAME
    model (assignment is a pure function of (vector, model)); a
    replayed append adds zero rows (stored-id anti-join); the cells
    pin behind the append/drift oracles holds; and the drift report's
    integer invariants hold (n_low counts quantized sims below the
    quantized floor; occupancy sums to the batch)."""
    from ffi_etl_spark.operators.similarity import (
        ann_ivf_query_stored,
        assign_to_centroid,
        check_ivf_layout,
        choose_ivf_cells,
        ivf_index_append,
        ivf_index_tables,
        ivf_quantizer_drift,
        ivf_train_quantizer,
    )
    from ffi_etl_spark.queries_pkg.oracle_sql import APPEND_BUILD, APPEND_CELLS

    assert choose_ivf_cells(APPEND_BUILD) == APPEND_CELLS  # oracle pin

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    base = emb.filter(F.col("vec_id") < 200)
    batch = emb.filter(F.col("vec_id") >= 200)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    centroids, assignments = ivf_index_tables(base, n_iter=2, quantize_bits=20)
    cpath, apath = str(tmp_path / "c"), str(tmp_path / "a")
    centroids.write.parquet(cpath)
    assignments.write.partitionBy("centroid_id").parquet(apath)
    sc = spark.read.parquet(cpath)

    new_rows = ivf_index_append(sc, spark.read.parquet(apath), batch)
    new_rows.write.mode("append").partitionBy("centroid_id").parquet(apath)
    sa = spark.read.parquet(apath)
    assert sa.count() == 300
    # appended rows carry the STORED model's identity: the grown
    # table still passes the layout gate against the same model
    check_ivf_layout(sc, sa)

    # replay: the same batch appends nothing
    assert ivf_index_append(sc, sa, batch).count() == 0

    # parity vs a one-pass index under the SAME stored model
    model = sc.select("centroid_id", "centroid")
    union_assign = assign_to_centroid(emb, model).withColumn(
        "_cells", F.lit(sc.count())
    )
    grown = ann_ivf_query_stored(sc, sa, queries)
    onepass = ann_ivf_query_stored(sc, union_assign, queries, trust_layout=True)
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    g = sorted(grown.collect(), key=key)
    o = sorted(onepass.collect(), key=key)
    assert [tuple(r) for r in g] == [tuple(r) for r in o]
    assert len(g) > 0

    # drift report invariants on the same model/batch
    cents, _ = ivf_train_quantizer(base, n_iter=2, quantize_bits=20)
    row = ivf_quantizer_drift(cents, batch, sim_floor=0.5, scale_bits=20).collect()[0]
    assert row.n_vecs == 100
    assert 0 <= row.n_low <= row.n_vecs
    assert 1 <= row.cells_touched <= sc.count()
    assert row.max_cell_n <= row.n_vecs
    assert row.q_sim_sum <= row.n_vecs * (1 << 20)  # sims <= 1
    # a floor of 1.0 flags every vector; a floor of -1.0 flags none
    hi = ivf_quantizer_drift(cents, batch, sim_floor=1.0001, scale_bits=20).collect()[0]
    lo = ivf_quantizer_drift(cents, batch, sim_floor=-1.0, scale_bits=20).collect()[0]
    assert hi.n_low == 100 and lo.n_low == 0


def test_ivf_assignments_compaction(spark, sf_dir, tmp_path):
    """The stored-assignments maintenance story for small files
    (VERDICT r09 item 5): append_ivf_assignments bounds each append to
    one file per touched cell; after many appends
    compact_ivf_assignments rewrites ONLY the crowded cells back to
    one file each; rows and probe answers are bit-identical before and
    after (compaction rewrites files, never rows); and an uncrowded
    table is untouched (returns 0)."""
    import re
    from collections import Counter

    from ffi_etl_spark.operators.similarity import (
        ann_ivf_query_stored,
        append_ivf_assignments,
        compact_ivf_assignments,
        ivf_index_append,
        ivf_index_tables,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    base = emb.filter(F.col("vec_id") < 150)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    centroids, assignments = ivf_index_tables(base, n_iter=2, quantize_bits=20)
    cpath, apath = str(tmp_path / "c"), str(tmp_path / "a")
    centroids.write.parquet(cpath)
    assignments.repartition("centroid_id").write.partitionBy("centroid_id").parquet(
        apath
    )
    sc = spark.read.parquet(cpath)

    # 10 small appends — the churn that would otherwise accumulate a
    # parquet footer open per append per cell
    for b in range(10):
        lo = 150 + b * 15
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 15))
        append_ivf_assignments(
            ivf_index_append(sc, spark.read.parquet(apath), batch), apath
        )

    def files_per_cell() -> Counter:
        cnt: Counter = Counter()
        for f in spark.read.parquet(apath).inputFiles():
            m = re.search(r"centroid_id=(\d+)/", f)
            if m:
                cnt[int(m.group(1))] += 1
        return cnt

    before_files = files_per_cell()
    # one file per touched cell per append: bounded by build + appends
    assert max(before_files.values()) <= 11
    assert max(before_files.values()) > 4  # churn actually crowded cells
    sa = spark.read.parquet(apath)
    n_rows = sa.count()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    before = sorted(ann_ivf_query_stored(sc, sa, queries).collect(), key=key)

    n_comp = compact_ivf_assignments(spark, apath, files_per_cell=4)
    assert n_comp > 0
    after_files = files_per_cell()
    # compacted cells are one file each; no cell above the threshold+1
    assert max(after_files.values()) <= 4
    sa2 = spark.read.parquet(apath)
    assert sa2.count() == n_rows
    after = sorted(ann_ivf_query_stored(sc, sa2, queries).collect(), key=key)
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert len(before) > 0

    # idempotent: nothing crowded remains, nothing is touched
    assert compact_ivf_assignments(spark, apath, files_per_cell=4) == 0


def test_ivf_append_drift_contract(spark, sf_dir, tmp_path):
    """The drift contract on append (the adopted-quantizer analogue of
    the dedup family's recall validation): a batch mostly below the
    floor refuses with the re-materialize remedy; the same batch under
    no contract, or under a floor it clears, appends; and a REPLAYED
    drifted batch passes vacuously (zero fresh rows — nothing left to
    drift)."""
    from ffi_etl_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_tables,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = emb.filter(F.col("vec_id") < 150)
    batch = emb.filter(F.col("vec_id") >= 150)

    centroids, assignments = ivf_index_tables(base, n_iter=2, quantize_bits=20)
    centroids.write.parquet(str(tmp_path / "c"))
    assignments.write.partitionBy("centroid_id").parquet(str(tmp_path / "a"))
    sc = spark.read.parquet(str(tmp_path / "c"))
    sa = spark.read.parquet(str(tmp_path / "a"))

    # sim_floor=1.0001 puts every vector below the floor: any share
    # budget under 1.0 must refuse
    with pytest.raises(ValueError, match="[Rr]e-materialize"):
        ivf_index_append(
            sc, sa, batch, max_below_floor_share=0.5, sim_floor=1.0001
        )
    # a floor every vector clears appends under the tightest budget
    rows = ivf_index_append(
        sc, sa, batch, max_below_floor_share=0.0, sim_floor=-1.0
    )
    rows.write.mode("append").partitionBy("centroid_id").parquet(str(tmp_path / "a"))
    sa = spark.read.parquet(str(tmp_path / "a"))
    assert sa.count() == 200
    # replay of the drifted batch: fresh set is empty, contract vacuous
    assert (
        ivf_index_append(
            sc, sa, batch, max_below_floor_share=0.0, sim_floor=1.0001
        ).count()
        == 0
    )
