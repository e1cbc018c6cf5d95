"""Query registry: named (spark, sf_dir) -> DataFrame callables + DuckDB oracles.

Every operator from SURVEY.md §2 (and every extension operator) is
exposed here twice: as an idiomatic-Spark callable and as the ANSI SQL
a DuckDB oracle runs on the same parquet tables. Column names are
aliased identically on both sides (the driver hash-compares values
after sorting columns by name).

Registration idiom (``query`` comes from the leaf ``queries_pkg``)::

    @query("name", oracle=\"\"\"SELECT ...\"\"\")
    def _(spark, sf_dir): ...

Queries whose semantics are not SQL-expressible register with
``oracle=None`` and get a rows-only check.
"""

from __future__ import annotations

import importlib

from ffi_etl_spark.queries_pkg import ORACLES, QUERIES, query  # noqa: F401

# The registration modules, in registry order. This is the one module
# list: importing a module registers its queries, and _apply_priority
# orders every query outside PRIORITY_PREFIX by its module's place here,
# then by definition order, whatever module was imported first.
MODULES: tuple[str, ...] = (
    "reference_surface",
    "extensions",
    "olap_spines",
    "olap_spines2",
    "breadth",
    "profiling",
    "behavioral",
    "datamix",
    "audit",
    "round4",
    "analytics",
    "round4b",
    "round4c",
    "round5",
    "fam_modeleval",
    "fam_sketches",
    "fam_textsel",
    "fam_retrieval_events",
    "round6",
    "round7",
    "round8",
    "round9",
    "round12",
)
for _m in MODULES:
    importlib.import_module(f"ffi_etl_spark.queries_pkg.{_m}")

# The driver's correctness gate grades a bounded prefix of the registry
# (exactly the first 50 registered queries). Registration order is
# therefore a grading decision; `tools/rotation.py` machine-derives the
# graded/green/never-graded sets from CORRECTNESS_r*.json and proposes
# the next prefix (VERDICT r04 item 6 — no more hand-counted TODO
# lists). Round-12 rotation: the board entered the round fully green
# (258/258 graded-ever green), so the window stays FRESHNESS-ONLY —
# 5 continuity canaries + the 6 never-graded round-12 queries (the
# int8-coded stored-IVF tier: fracprobe + re-rank, the code-space-only
# output, the clamp-bearing append path — round7.py; the product-
# quantization pair: exact-integer ADC + the exact-code re-rank; and
# their composition ann_ivfpq_topk — round12.py) + 39 oldest-graded
# greens, rotation.py's proposal order. The round-11 fracprobe gates
# rotate out as freshly-graded greens; they stay registered and
# local-gated.
PRIORITY_PREFIX: tuple[str, ...] = (
    # -- canaries: green every prior round, kept for continuity --
    "survey_pipeline",
    "census_merge",
    "dedup_minhash",
    "tpch_q1",
    "pretraining_corpus",
    # -- never-graded: the round-12 int8 + PQ gates --
    "ann_ivf_stored_int8",
    "ann_ivf_stored_int8_codes",
    "ann_ivf_append_int8",
    "pq_adc_topk",
    "pq_adc_rerank",
    "ann_ivfpq_topk",
    # -- freshness fill: oldest-graded greens (rotation.py order) --
    "conversion_wilson_ci",
    "chi2_independence",
    "cv_auc_folds",
    "feature_drift_psi",
    "train_decision_stump",
    "ks_two_sample",
    "ab_srm_check",
    "conversion_time_quantiles",
    "rolling_ols_trend",
    "hll_distinct_sketch",
    "quantile_summary_compact",
    "bloom_filter_audit",
    "incremental_join_maintenance",
    "incremental_agg_retractions",
    "rolling_distinct_hll",
    "unigram_lm_segment",
    "contrastive_negatives",
    "ppmi_associations",
    "zipf_exponent_fit",
    "unigram_em_refit",
    "leakage_safe_split",
    "sparse_cosine_mlt",
    "entity_resolution_golden",
    "mmr_diverse_topk",
    "multimodal_phash_sigs",
    "asof_forward_next_purchase",
    "gdpr_forget_apply",
    "calendar_dim",
    "resample_interpolate",
    "rollup_demographic",
    "clean_text",
    "likert_scores",
    "bucket_balance",
    "validity_cascade",
    "valid_split",
    "invalid_split",
    "project_rename_prefix",
    "global_stats",
    "window_backfill_first",
)


def _apply_priority() -> None:
    place = {f"ffi_etl_spark.queries_pkg.{m}": i for i, m in enumerate(MODULES)}
    ordered = [n for n in PRIORITY_PREFIX if n in QUERIES]
    head = set(ordered)
    ordered += sorted(
        (n for n in QUERIES if n not in head),
        key=lambda n: place[QUERIES[n].__module__],
    )
    for reg in (QUERIES, ORACLES):
        snap = dict(reg)
        reg.clear()
        reg.update({n: snap[n] for n in ordered if n in snap})


_apply_priority()
