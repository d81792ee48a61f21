"""Regenerate PLANS.md: formatted physical plans of the headline queries
with a one-line review of each — the 'is this the plan you'd want at
100 TB' artifact. Usage: python scripts/dump_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

REVIEW = {
    "meds_agg_code_metadata": "one groupBy().agg(); with its single exact distinct count (code/n_subjects) Spark's single-distinct rewrite plans (code,subject) partial aggs then a per-code finalize — no Expand, every shuffle carries partial rows only, no global sort",
    "meds_filter_subjects": "single exchange on subject_id feeding the window; filter follows, nothing else moves",
    "meds_normalization": "fact scan → two BroadcastHashJoins (stats, vocab) → projection; zero fact-table shuffles",
    "tpch_q1": "scan with shipdate pushed to parquet → partial/final hash agg on 2 keys; round-10 sums the money measures as exact fixed-point LONGS (value·10^s per row, two-long DIV/MOD-10⁹ aggregation state with map-side combine, exact decimal reassembly then one cast) — bit-identical doubles, no per-row BigDecimal adds",
    "tpch_q3": "lineitem scan filtered at source; orders join (AQE picks build side), customer broadcast, then agg + topK sort",
    "docs_exact_dedup": "one scan, one exchange on the 64-bit content hash, window min, filter",
    "docs_minhash_dedup": "Arrow signature kernel (grams.lsh_band_buckets_poly): whole one-permutation signature per doc inside each batch — the ONLY shuffled rows are (id, band bucket), O(docs×bands) vs the relational form's O(shingles) first exchange (658→88 MB at 500k docs); then window rep-select + semi join back",
    "emb_topk_cosine": "corpus scan map-side joined to broadcast queries; rank window on query_id only",
    "tpch_q21": "double-EXISTS as two chained hash aggs ((order,supplier) then order) + broadcast supplier — 2 exchanges, no semi/anti re-shuffles",
    "events_asof": "both sides unioned → ONE exchange on user_id → running last(ignorenulls) window; no range join anywhere",
    "events_rolling": "single exchange + sort feeding a bounded RANGE frame over epoch-µs; scaled-long sliding sum stays in codegen",
    "docs_tfidf": "two hash aggs ((doc,token), token) + broadcast df-table join; shuffles carry (token,count) only",
    "events_interval_join": "interval side filtered+exploded to time bins then hash-joined on (user, bin) — broadcast here, shuffle join at scale; containment filter after the join, never a nested loop",
    "docs_stratified_sample": "sampling is ONE codegen filter on the scan (hash < per-stratum threshold) — no shuffle, no RNG, pushes like any predicate",
    "docs_group_cap": "two-phase top-k: window on (lang, input-partition) caps locally, second window ranks ≤n·P survivors — a giant group spreads over all reducers",
    "docs_repetition": "array fractions are one codegen projection (zip_with bigrams, no per-element re-eval); only the top-word share shuffles — explode→(doc,word) partial count→(doc) max, counts only, joined back",
    "docs_pii_scrub": "regexp_count + chained regexp_replace: a single codegen projection over the scan — zero shuffle, zero UDF, linear at any scale",
    "tpch_q2": "min-cost-supplier correlated subquery as a grouped pre-agg joined back on (part, cost); all dims broadcast, part table scanned once",
    "tpch_q7": "two-nation volume: lineitem joined to broadcast supplier/customer/nation pair filter, one agg on (nations, year)",
    "tpch_q9": "profit rollup: part filter broadcast into lineitem, orders join for the year, agg on (nation, year) — the biggest input scans once",
    "docs_decontaminate_ids": "mode='ids' decontamination: same poly64 gram kernel + broadcast eval-gram semi probe, but the plan ENDS at the distinct contaminated-id aggregate — no corpus join-back, no text rematerialization; the output a 100 TB pipeline persists and anti-joins downstream",
    "docs_decontaminate": "train/eval word-13-gram hashes via the Arrow poly64 rolling-hash kernel (grams.word_ngram_hashes_poly — one numpy pass per batch, 2.7× the interpreted gram stream at 1M docs); eval gram-hash set dedup'd + broadcast; LEFT SEMI map-side probe → contaminated ids → one id join back; document text never shuffles",
    "events_funnel": "agg_join strategy: per-step full hash agg with map-side combine (shuffle carries one partial row per entity-partition), per-entity step table broadcast back into the next scan — zero full-data shuffles, no sort; window strategy available for unbroadcastable entity dims",
    "docs_pack": "two-phase prefix sum over DETERMINISTIC hash-range buckets (round-10: the hash order key is uniform by construction, so the monotone bucket slice replaces the range exchange — no range-sampling job, no persisted boundaries), per-partition running sums, #partitions offset rows broadcast back — no SinglePartition exchange anywhere (the naive global-window cumsum is the anti-pattern this operator replaces)",
    "emb_cluster_balance": "centroids broadcast into a map-side scoring join (corpus never shuffles for assignment); the cap is group_cap's two-phase per-key top-k — phase 1 caps within (cluster, input-partition), phase 2 ranks only survivors",
    "docs_substring_dedup": "ONE gram stream (round-10 two-level CHUNKED explode: 64-char chunks with a (k-1)-char overlap first, then positions within the chunk, so position rows carry ≤ 83 bytes instead of the whole document) feeds both per-doc totals and the per-hash agg; min_df<=2 runs the unique-complement form — df==1 grams attribute to their single owner INSIDE the hash agg (min(id)), so there is no join-back and every exchange is map-side combined (no skew-sensitive stage); text never shuffles",
    "docs_domain_mix": "running sums window on (source, monotone hash bucket) — a giant source spreads over all buckets; per-bucket totals agg to a tiny offsets table that re-enters via BroadcastHashJoin; quota-0 sources pruned at the scan",
    "docs_unigram_logprob": "(id,tok) pre-agg collapses repeats before the vocab join (AQE broadcasts the LM when small); scalar totals ride as a broadcast 1-row join; round-10 pins the self-fit (tok,n) model table (vocab-sized, Zipf ≪ corpus) so the totals aggregate and the score join read ONE checkpoint leaf instead of each re-running the corpus-token-scale aggregation (16 → 8 HashAggregates)",
    "docs_quality_classifier": "token explode → pmod bucket (codegen) → (id,bucket) partial counts → BroadcastHashJoin with the 4096-row model → per-id agg + sigmoid projection; serving has no Python operator anywhere",
    "emb_covariance": "mapInArrow emits ONE (n, Σx, ΣxxT) row per batch (BLAS); downstream posexplode/groupBy/joins all run over #batches tiny rows — the corpus is scanned once and never shuffled",
    "events_retention": "window-min on user (one exchange) → (cohort, offset, user) dedup agg → matrix agg; the rate window runs over the cohort×offset matrix, not events",
    "docs_incremental_dedup": "batch band buckets (codegen hash chain) semi-join the index's distinct buckets on a 64-bit key — AQE broadcasts the batch side so the standing index is probed map-side; one id join back to the batch",
    "docs_chunk": "tokens materialize once (HOF CSE rule), chunk ids explode from a sequence, each row slices only ITS window — generate output is O(len·(1+overlap/step)), zero shuffle",
    "events_keep_latest": "one exchange on the (user, type) key feeding a row_number window with (ts, id) tiebreak — no join-back, no second scan",
    "events_transitions": "lag window on the user partition (one exchange) then a map-side-combined (from, to) count — the output is |types|² rows regardless of volume",
    "docs_pmi": "per-doc distinct tokens self-join on the doc id (only real co-occurrences materialize), two DF joins — never a vocab² product; max_doc_tokens bounds the per-doc quadratic",
    "emb_quantize": "pure codegen array transforms (abs-max, scaled round, clamp) + posexplode — no shuffle at all before the sink",
    "docs_corpus_report": "one (source, fingerprint) pre-agg (map-side combined) folds dup counting into the volume pass; language mode elected from the tiny (source, lang) table — no per-doc shuffle beyond the two group keys",
    "docs_gopher_filter": "single shuffle-free codegen projection: tokens and lines materialize once as array columns (HOF CSE discipline), every Gopher rule is an array aggregate over them — linear, embarrassingly parallel",
    "docs_dsir_weights": "feature buckets from the Arrow poly64 kernel (grams.word_feature_bucket_counts_poly): per-(doc,target,bucket) counts leave the batch pre-aggregated, the pinned frame feeds BOTH the model rollup and the per-doc reduction, the 8k-row model re-enters through a BroadcastHashJoin; every shuffle row is (long,long)",
    "events_zorder": "min/max normalization is a 1-row aggregate re-entering as a broadcast join; the Morton key is closed-form codegen bit arithmetic — the fact table is never shuffled or windowed",
    "events_profile": "ONE partial-agg scan computes nulls/NDV/min/max/mean for all columns; exact mode shows the documented Expand (N× the distinct aggregates), approx (HLL) removes it; the wide 1-row result explodes to tidy per-column rows",
    "emb_semantic_dedup": "centroids broadcast into a map-side assignment join (corpus never shuffles to cluster); the within-cell pair stage (round-11) is ONE groupBy(cell).applyInPandas Gram matmul — each vector crosses one exchange once instead of riding every candidate pair, bit-identical integer threshold decisions (Σ n_cell² MACs vectorized; measured 5.7× on a 10M-pair stage); the dropped set is lazily checkpointed so a Union input can't duplicate the pair pipeline through anti-join pushdown, and the survivor anti-join strategy still follows propagated size stats",
    "events_anomaly": "count/sum/square-sum as three frames over ONE exchange+sort; both moments from one LONG quantization (variance identity exact, overflow-bounded); flag decision replays bit-for-bit in SQL",
    "docs_assign_ids": "two-phase prefix ranking; the md5-hex order key gets a deterministic monotone bucket (round-10; round-11 computes it as the exact-integer ((key>>30)·n)>>30 slice — no double rounding, range exactly [0,n)), so the partition id is a pure expression and the rank window runs DIRECTLY over the full rows — no range-sampling job, no persist, no slim-key rank + sort-merge join-back (was 4 exchanges + duplicated window subtrees; now 1 exchange + 1 window); the totality check is an in-plan lag/raise_error guard computed in that same window, replacing the old eager dup-check job; no SinglePartition window; pure function of the data",
    "docs_bpe_tokens": "the package's one deliberate Pandas hot path: merges ride the mapInPandas closure (no model join), per-batch word memoization makes amortized cost a dict hit; fit's collect is the Zipf-tiny word table, never corpus rows",
    "docs_curation_e2e": "five curation stages chained (gopher → exact dedup → DSIR → top-k → pack) with NO new shuffle classes: each stage's own exchanges only, id-keyed frames between stages, the pack prefix runs the two-phase form over deterministic hash-range buckets (round-10: no range-sampling job, no persisted boundaries)",
    "docs_minhash_transitive": "md5_60 band buckets (the deliberate oracle mirror; poly64 is the scale default) → co-bucket edges → iterative min-label components with LAZY localCheckpoints (round-10: driver actions materialize them, one job saved per site); on the union-find escape path the driver-built dropped set is wrapped in F.broadcast (round-10), so the final anti-join is a BroadcastHashJoin LeftAnti — the corpus side is never exchanged or sorted for it (was: SortMergeJoin + 2 Exchange + 2 Sort against a statistics-less Scan ExistingRDD)",
    "docs_winnow_overlap": "gram hashing + window minima via the Arrow poly64 rolling-hash kernel (zero shuffle until the (id, long) fingerprints); the round-9 max_df guard is a count-over-fp WINDOW whose output is hash-partitioned AND sorted by fp — the pair self-join adds no exchange or sort and both branches collapse into a ReusedExchange of ONE kernel pass (no checkpoint pinning the stream); the pair aggregate then runs on ONE guarded 64-bit packed key after an explicit repartition — 8-byte exchange rows, partial+final pipelined post-shuffle. NOTE the dump below is the INITIAL adaptive plan and still shows the kernel subtree duplicated under both join branches — the FINAL (executed) plan collapses them to ReusedExchange, asserted by tests/test_winnow.py::test_overlap_plan_reuses_one_exchange",
    "docs_winnow_contains": "corpus fingerprint stream stays map-side; probe fingerprints broadcast (eval sets are small by nature) — the corpus side never shuffles with max_df=None, and under the round-9 window-form guard shuffles exactly ONCE, carrying (round-10) only the probe∩corpus fp intersection: a broadcast semi-join on the probe's distinct fps precedes the max_df window, and the pinned probe stream feeds both consumers without re-running its kernel",
    "docs_bigram_ppl": "per-doc bigram counts from the Arrow poly64 kernel (token-hash pairs, one numpy pass per batch — keys never leave the model plane so scores are identical to the string-keyed form); the per-doc aggregate is PINNED because five consumers (score join, model, marginals, totals) don't canonicalize into ReusedExchange — the kernel runs once, everything else re-aggregates",
    "docs_ccnet_buckets": "scoring runs ONCE into a persisted slim (id, score) frame consumed by both the quantile pass and the output join; tercile cuts are distributed exact nearest-rank quantiles (distinct-value cumulative ranks) broadcast back — never an ntile window through one reducer per language",
    "docs_shuffle_shards": "seeded-hash rank via deterministic hash-range buckets (round-10: ONE exchange + window directly over the rows — the range-sampling pass, the persisted boundaries, and the rank join-back are all gone); round-robin deal makes shard sizes exact — no SinglePartition window, no rand(), pure function of (data, seed)",
    "docs_ccnet_e2e": "the four curation stages chain with NO new shuffle classes: the gopher survivors are pinned ONCE (three consumers: bigram kernel, score join, quantile pass — previously three corpus scans), ccnet derives model+cuts from the pinned bigram kernel output, the eval probes broadcast into the poly64-winnow decontamination join, and the shard rank is the two-phase prefix — the corpus text shuffles ZERO times end to end",
    "docs_corpus_diff": "both snapshots pre-project to (id, group, 64-bit fingerprint, length) ~40-byte rows before the single full-outer id join — text never shuffles; classification + char mass fold into one small-key aggregate, output is |groups| rows",
    "emb_semantic_dedup_arrow": "cell assignment is ONE BLAS matmul per Arrow batch against the closure-shipped centroid matrix (mapInArrow, zero shuffle) — the scale path once n_cells ∝ N makes the per-pair HOF dot quadratic; downstream within-cell collapse identical to the HOF query",
    "events_anomaly_bucketed": "the trailing window partitions on (event_type, day-bucket) with boundary rows duplicated one bucket forward as frame context — parallelism ∝ keys × buckets instead of the 5-value key cap; frames (and rows) bit-identical to events_anomaly",
    "docs_bigdoc_winnow": "the >16 MB-batch kernel gate: ~40 MB of repeated documents in ONE partition (rescue_starved=False pins the deliberate single batch) force _batch_slices into 2-3 slices at the default bound; per-doc fingerprint-set summary (count/min/max/xor) aggregates a few hundred rows — the heavy lifting is all inside the scratch-pooled numpy kernel, the plan itself is scan → project(repeat) → coalesce(1) → MapInArrow → tiny agg",
    "docs_bigdoc_minhash": "same single >16 MB sliced batch through lsh_band_buckets_poly; only (id, bucket) rows leave the kernel, then the standard window rep-election — the plan's one exchange carries ~56 rows",
    "meds_agg_quantiles_approx": "one hash-agg pass of mergeable GK sketches (percentile_approx) — map-side partial sketches, O(accuracy) per group, no per-group sort or cumulative window; plus the round-7 certificate: one conditional-sum pass ranks each sketch result against its group, the oracle replays exact nearest-ranks and a constant-TRUE within_tol",
}


def main():
    import __spark_entry__ as E
    from meds_transforms_spark import get_spark

    spark = get_spark("dump_plans")
    qs = E.queries()
    out = [
        "# PLANS — physical plans of headline queries (sf0.01 shapes)",
        "",
        "Regenerate with `python scripts/dump_plans.py`. Each plan is the",
        "`executedPlan` Catalyst settled on; the review line states why this",
        "is the intended 100 TB shape.",
        "",
        "Honesty note on adaptive (AQE) shapes: these dumps are taken",
        "WITHOUT executing the query, so an `AdaptiveSparkPlan isFinalPlan=",
        "false` tree is the INITIAL plan — runtime effects (exchange-branch",
        "collapse into ReusedExchange, broadcast demotions, skew splits)",
        "are not yet applied. Where a query's intended shape depends on",
        "such a runtime collapse, its review line says so and names the",
        "test that asserts the final executed form.",
        "",
    ]
    for name, review in REVIEW.items():
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n**Review:** {review}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
