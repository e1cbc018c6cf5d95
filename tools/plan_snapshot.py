"""Dump formatted physical plans for the headline queries to PLANS.md.

The scale posture lives in the physical plans (pushed filters, pruned
schemas, broadcast joins, WindowGroupLimit, absence of nested loops) —
this snapshots them into a reviewable artifact so plan regressions show
up in diffs, not just in the plan-guard asserts.

Usage: python tools/plan_snapshot.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT = [
    # (query, what the plan should show)
    ("tpch_q1", "pushed shipdate filter + pruned ReadSchema, one partial+final agg"),
    ("tpch_q3_top10", "broadcast dims, TakeOrderedAndProject top-k"),
    ("census_merge", "shuffled full outer join of two small sides + broadcast 1-row max-date, then ONE single-partition exchange: both K-row windows and the final sort run with no exchange of their own"),
    ("dedup_minhash", "signature persist, band self-join as the only wide shuffle, broadcast verify"),
    ("ann_ivf_topk", "packed 1-row broadcast centroid model, equi-join on centroid_id"),
    ("sessionize", "single user-keyed shuffle feeding lag + running-sum windows"),
    ("lateral_topk_orders", "LATERAL decorrelated to WindowGroupLimit, no nested loop"),
    ("mixture_balance", "broadcast counts back over the corpus, scan-side integer filter"),
    ("reservoir_sample", "TakeOrderedAndProject bottom-k, no global sort"),
    ("skew_salted_join", "per-row salt on the 90%-hot fact key, dim exploded per salt, ShuffledHashJoin on (k, salt) (round 12: shuffle_hash build of the keyed dim aggregate replaced the merge hint — same shuffle, same skew, no 9.6M-row sort; salted 4.08s→2.77s / plain 4.70s→3.80s at sf0.1) — hot key spread over 16 reducer tasks; measured ~1.4x vs unsalted at sf0.1. ADAPTIVE FORM (operators/olap.py::salted_join_adaptive): a seed-pinned 1%-sample key-count probe precedes this plan and salts only when the hottest key's sampled share >= 0.2 — below threshold the operator emits the PLAIN equi-join (no _salt column, no dim explode) and leaves mild skew to AQE; both branches are result-identical (tests/test_skew.py::test_salted_join_adaptive_branches asserts the branch choice AND the equality)"),
    ("dedup_keep_best", "single partial+final SortAggregate (max_by pair buffer), one shuffle, no per-group window"),
    ("training_order", "one hash exchange on shard_id feeding the per-shard row_number window — no global sort"),
    ("dataset_diff", "both sides reduced to (id, md5) before the full-outer SMJ; bodies never shuffle"),
    ("dedup_minhash_incremental", "persisted signatures reused 4x, broadcast batch ids + new-bands side, corpus never self-joins"),
    ("skyline_pareto", "two-phase window skyline: per-partition prune then survivor pass — no dominance self-join, no nested loop"),
    ("histogram_equidepth", "two-phase global rank (deterministic-cutpoint pid buckets + pid-keyed windows + broadcast offsets; no sampled range exchange — r7 determinism fix) + integer NTILE replay — no single-partition window over raw rows"),
    ("bm25_rank", "one (doc,term) shuffle for tf over query terms only, broadcast df + 1-row corpus stats, TakeOrderedAndProject top-k"),
    ("countmin_frequency", "d-way slot explode into one map-side-combinable agg; d x w sketch broadcast into the probe join"),
    ("star_denormalize", "pushed shipdate filter on the fact scan, 6 BroadcastHashJoins, no SortMergeJoin at test scale"),
    ("random_projection", "zero-shuffle narrow projection: literal-array dot folds inside the scan stage"),
    ("token_budget_mixture", "K-row token totals broadcast back over the corpus, scan-side exact-decimal keep filter"),
    ("padding_efficiency", "shard-partitioned row_number windows (never global), integer batch accounting"),
    ("ccnet_quality_tiers", "scan-stage regexp score, K-row per-language percentile agg broadcast back, counting agg"),
    ("constraint_audit", "seven rules in ONE aggregation over ONE lineitem scan; fk parent keys broadcast onto the same pass"),
    ("split_leakage_audit", "distinct (split,doc,gram) once; gram-keyed co-partitioned probe join (no corpus broadcast)"),
    ("corr_matrix", "one scan, one 15-column partial+final reduce to 1 row, 6 exploded output rows"),
    ("mixture_curriculum", "four epoch counters in one aggregate over one broadcast-joined corpus scan; corpus never exploded"),
    ("incremental_agg_maintenance", "both sides PRE-REDUCED before the full-outer merge join — O(groups) shuffle, base facts never rescanned in the maintenance half"),
    ("zorder_locality", "1-row min/max broadcast, Morton interleave inside codegen, one bucket-keyed agg — no extra shuffle beyond the final 16-group reduce"),
    ("market_basket_lift", "user-keyed co-partitioned basket self-join (vocabulary-bounded fanout), K-row broadcast supports + 1-row broadcast user total"),
    ("clustering_coefficient", "oriented 3-way triangle join on the pair list, 3-corner union credit, left join onto the degree agg — no wedge materialization beyond candidates"),
    ("kmv_set_algebra", "two-phase shard-local top-k sketch build (no per-set single-task sort), K-row sketches through the pair stage, broadcast per-type estimates"),
    ("rendezvous_resharding", "narrow 17x explode + ONE doc-keyed aggregate carrying both argmaxes (struct max with explicit tie-break), map-side partial combine before the only shuffle"),
    ("dedup_span_scrub", "two narrow explodes (gram starts, token positions), one gram-keyed agg + join back, doc-co-partitioned anti-join on covered positions, order-pinned per-doc rebuild — no collects, no cross product; tokenized base pinned once for its three consumers"),
    ("hybrid_rrf_fusion", "both ranked lists reduced to top-50 BEFORE the rank windows (TakeOrderedAndProject feeds a 50-row window, never the corpus), tiny full-outer fuse, rational RRF score into the final top-k"),
    ("dsir_importance", "one gram explode carrying the target flag, ONE B-group aggregate for both distributions, 1-row totals + B-row quantized-LLR broadcasts, doc-keyed integer sum — corpus shuffles once"),
    ("bpe_learn_merges", "per round: vocab-table pair-count aggregate + 1-row argmax broadcast + greedy fold rewrite; localCheckpoint truncates the twice-referencing round lineage (LogicalRDD scans in the plan are the checkpoints); corpus touched once for the word-frequency pass"),
    ("woe_iv_encoding", "ONE aggregation over one scan to K category rows, 1-row totals broadcast, scalar quantized-WOE math — the minimal supervised-encoding plan"),
    ("kmeans_clusters", "per round: narrow posexplode into ONE K*dim-group integer-sum aggregate, K-row centroid model packed into a 1-row broadcast, argmax inside the scan stage — corpus never shuffles across rounds"),
    ("ann_brp_lsh", "literal-hyperplane dot folds + floor buckets inside the scan stage, bucket equi-self-join as the only shuffle, distinct-before-verify, sequential-fold Euclidean verify"),
    ("nb_lang_train_score", "ONE corpus explode into the pinned (doc,bucket) aggregate; C x B model + C-row consts derived from it and broadcast; scoring = broadcast nested-loop C-fanout + (doc,class) agg + doc-keyed struct argmax — three shuffles, none corpus x corpus"),
    ("unigram_lm_segment", "lexicon + vocab checkpointed once (LogicalRDD scans); each DP round = <=6 branch unions broadcast-joined to the vocab + one per-word struct-max aggregate; round count trimmed to the lexicon's max word length"),
    ("sparse_cosine_mlt", "pinned (doc,term) weights table; query vector + df broadcast; one doc-keyed dot aggregate + TakeOrderedAndProject top-k — corpus shuffles once on (doc,term)"),
    ("quantile_summary_compact", "summary x summary below-count join (quadratic in the SUMMARY only), K-row global window for the stride filter, broadcast targets — corpus touched only by the initial shard-rank pass"),
    ("mmr_diverse_topk", "candidate pool + pairwise table checkpointed once; each of k rounds = anti-join + broadcast semi-join + 1-row struct argmin — no corpus work past the initial kNN"),
    ("incremental_join_maintenance", "stored rows re-decorated via ONE broadcast dim join + delta broadcast-joined and unioned — zero fact-table rescans in the maintenance path"),
    ("train_decision_stump", "one scan to 100 bin rows, grand totals ride the SAME K-row window pass as the cumulatives (unbounded-following frame — no persist, no crossJoin, r7), struct argmin — the whole training job is one aggregate tree"),
    ("dedup_minhash_adaptive", "probe (TakeOrderedAndProject sample + K-row median) chooses the band split driver-side; then the standard banded plan at (24,4,6) on this corpus — signature pin, band self-join as the only wide shuffle, broadcast verify; the 24-slot signature buys 12x fewer ambient candidates (BASELINE.md §scaling)"),
    ("text_lines_roundtrip", "distributed text scan (one row per line, splits at block boundaries) into one 4-aggregate reduce — the whole roundtrip check is a single narrow pass"),
    ("ann_ivf_autok", "count probe + sample-trained integer-Lloyd quantizer driver-side (per-round LogicalRDD pins), then ONE packed 1-row broadcast model for both assignments and the cell equi-join top-k — the corpus never self-joins, the probe join is the only wide stage"),
    ("domain_cap_sample", "two-phase top-k per domain: partial WindowGroupLimit BEFORE the exchange bounds a mega-domain's shuffle volume at cap x tasks rows, final WindowGroupLimit + rank filter after — no full per-domain sort ships"),
    ("domain_blocklist_filter", "domain-cardinality blocklist aggregate broadcast into a LEFT ANTI join — the corpus side never shuffles for the filter; one partial+final count agg after"),
    ("domain_mix_report", "one partial-aggregated groupBy to domain cardinality, then K-row windows (rank + cumulative + total) over the post-agg rows — the single-partition window is K-row by construction"),
    ("domain_token_cap", "lossless WindowGroupLimit pre-prune (doc cap = token budget, partial top-k before the exchange) bounds the shuffle, then the exact integer cumsum + budget filter runs over <= budget rows per domain"),
    ("ann_ivf_stored", "the autok build written as parquet state (K-row model + centroid_id-partitioned assignments), probe reads back with a dynamicpruning PartitionFilter on the assignments scan (query cells only) — the one n*sqrt(n) build is outside the per-batch plan"),
    ("ann_ivf_append", "batch assigned against the STORED model (1-row broadcast, no retrain, stored-id anti-join for replay idempotence) and appended into the partitioned assignments; the grown-index probe keeps the dynamicpruning PartitionFilter"),
    ("ann_ivf_drift", "K-row model broadcast, one narrow scoring pass (argmax struct keeps sim+cell), cell-keyed partial agg into the 1-row integer staleness report — no corpus join anywhere"),
    ("ann_ivf_churn", "build + three layout-aware appends (repartition-before-partitionBy: one file per touched cell) + per-cell compaction, then the SAME dynamicpruning probe plan as ann_ivf_stored — maintenance changes files and when costs are paid, never the probe plan or a row"),
    ("ann_ivf_stored_fracprobe", "the stored probe with nprobe DERIVED from the model's _cells stamp (ceil(frac*cells) — a 1-row footer read inside the layout gate, no extra job); the plan is ann_ivf_stored_nprobe2's shape at rk<=3: top-3 cell assignment per query, equi-join on centroid_id with the dynamicpruning PartitionFilter intact"),
    ("ann_ivf_stored_int8", "the fracprobe plan with candidate scoring moved to CODE space (round 12): the probe FileScan reads [id, _codes, centroid_id] ONLY — the float column never appears in its ReadSchema (the 4x read cut) — with the dynamicpruning PartitionFilter intact; the rerank_factor*k shortlist then broadcasts back onto a SECOND assignments scan that reads the float column under its own dynamicpruning filter (shortlist cells only), exact cosine + WindowGroupLimit top-k"),
    ("pq_adc_topk", "product quantization end to end (round 12): per-subspace Lloyd rounds are (j,cid,p)-keyed partial+final aggregates (map-side combined, m*k_sub*d_sub output rows each), the probe LUT is a broadcast of |probes|*m*k_sub integer rows, and ADC scoring is the encoded (id,j,cid) rows joined against that broadcast + ONE (probe,candidate)-keyed sum — per candidate m lookups, never a dim-length fold; WindowGroupLimit top-k closes it"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod
    from ffi_etl_spark.session import get_session

    spark = get_session("plan-snapshot")
    qs = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/plan_snapshot.py {sf_dir}`. Regenerate",
        "after plan-affecting changes; review the diff like code.",
        "",
        "Reading notes: every `BroadcastNestedLoopJoin` below is a deliberate",
        "1-row broadcast scalar-subquery replacement (max-date stamp, packed",
        "centroid model, min-source count) — cost O(n), no quadratic pairing.",
        "The single `SortMergeJoin` (census_merge) is the FULL OUTER join of two",
        "K-row post-aggregation sides; full-outer cannot broadcast both sides,",
        "and K is category-count-small by construction.",
        "",
    ]
    for name, claim in SNAPSHOT:
        fn = qs.get(name)
        if fn is None:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", f"Expected shape: {claim}", "", "```", plan.rstrip(), "```", ""]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
