"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}}.

Each query is forced to full materialization with the noop sink (count()
alone lets Catalyst prune unused columns, under-measuring projection
work).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: spans scan→agg, window filters, broadcast joins,
#: multi-join relational, dedup (exact + LSH), text, similarity.
BENCH_QUERIES = [
    "meds_agg_code_metadata",
    "meds_filter_subjects",
    "meds_normalization",
    "meds_timeline_deltas",
    "meds_pipeline_e2e",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q5",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "events_hourly",
    "events_asof",
    "events_interval_join",
    "events_sessions",
    "events_funnel",
    "events_anomaly",
    "docs_token_stats",
    "docs_exact_dedup",
    "docs_decontaminate",
    "docs_minhash_dedup",
    # docs_bigdoc_* (the sliced >16 MB-batch kernel path) is
    # deliberately NOT in this set: its single task lands on a random
    # worker of the ~32-process pool each pass, so the interleaved
    # median measures scratch-pool cold-start roulette (9.7 s) rather
    # than the ~3 s steady path — a pure-noise regression signal.
    # It is correctness-gated in the driver prefix; its sequential,
    # warmed timings are in SCALING.md's round-9 section and its
    # round-10 "bigdoc kernel steady-state throughput row".
    "docs_substring_dedup",
    "docs_domain_mix",
    "docs_unigram_logprob",
    "docs_gopher_filter",
    "docs_dsir_weights",
    "docs_curation_e2e",
    "emb_topk_cosine",
    "emb_covariance",
    "emb_semantic_dedup",
    # round-6 additions: e2e CCNet composition, winnowing overlap,
    # snapshot diff, sequence packing — previously perf-untracked.
    "docs_ccnet_e2e",
    "docs_winnow_overlap",
    "docs_corpus_diff",
    "docs_pack",
    # round-7 additions: the remaining heavy dedup-family queries, so
    # regressions surface in the per-round medians, not only in ad-hoc
    # SCALING runs.
    "docs_winnow_contains",
    "docs_minhash_transitive",
    "emb_semantic_dedup_arrow",
    # round-8 addition: the ids-only decontaminate output mode.
    "docs_decontaminate_ids",
]


def main():
    import __spark_entry__ as E
    from meds_transforms_spark import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    qs = E.queries()
    # Warm the JVM/codegen path once with the cheapest query.
    qs["meds_fit_vocab"](spark, SF_DIR).count()

    # N runs per query, INTERLEAVED (full passes over the list), MEDIAN
    # reported: single-shot timings on a shared VM show rare 10-30×
    # blips (host steal / GC bursts lasting tens of seconds) that say
    # nothing about the plan, and back-to-back repeats land inside the
    # same burst — interleaving decorrelates them. Rounds 3-5 showed
    # best-of-2 cannot separate noise from regression (±30-45% phantom
    # per-query swings on byte-identical code); n>=5 medians put the
    # per-query noise floor at a few percent (see SCALING.md).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    raw: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    import gc

    for _ in range(runs):
        for name in BENCH_QUERIES:
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            raw[name].append(round(time.time() - t0, 3))
        # Hermetic passes: a handful of operators persist() small pinned
        # frames per call (a measured per-site choice — see SCALING.md),
        # and across runs×40 queries those entries accumulate until
        # storage squeezes execution memory — round-7 observed pass-5
        # medians 4-10× pass-1 on the Arrow-heavy queries, with
        # CacheManager "already cached" warnings. Dropping dead cache
        # entries between passes measures each pass cold-cache, which is
        # the cost model the queries claim.
        gc.collect()
        spark.catalog.clearCache()

    def median(xs: list[float]) -> float:
        ys = sorted(xs)
        mid = len(ys) // 2
        return ys[mid] if len(ys) % 2 else (ys[mid - 1] + ys[mid]) / 2.0

    times = {name: round(median(ts), 3) for name, ts in raw.items()}
    best = {name: round(min(ts), 3) for name, ts in raw.items()}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(times.values()), 3)
    # stdout is ONE compact JSON line that must fit the driver's
    # 2000-char stdout tail WHOLE (r08's 2.5 KB line parsed as null):
    # per-query medians at 2 decimals, nothing else per-query.
    # best-of-N, 3-decimal medians, and raw per-pass timings all go to
    # the side file, where variance stays inspectable across rounds.
    compact = {
        "metric": "total_wall_sec_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": {name: round(t, 2) for name, t in times.items()},
        "aggregation": "median",
        "runs_per_query": runs,
        # Headline-set size — totals are only comparable across
        # rounds at equal n_queries (r01: 19, r02: 24).
        "n_queries": len(BENCH_QUERIES),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Round-11 (additive): per-query best-of-N, POSITIONAL in
        # "queries" insertion order (a parallel name-keyed map blows
        # the 1900-char line budget). best-of-N is the noise-robust
        # statistic on this host (documented 1.5-3x window-to-window
        # medians on identical code); round-over-round comparisons
        # should prefer it to the medians above.
        "best": [round(min(raw[name]), 2) for name in times],
        "best_total": round(sum(min(ts) for ts in raw.values()), 3),
    }
    raw_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_raw_latest.json"
    )
    with open(raw_path, "w") as fh:
        json.dump(
            {
                **compact,
                "queries": times,
                "best_of_n": best,
                "total_best": round(sum(best.values()), 3),
                "raw_timings": raw,
            },
            fh,
        )
    line = json.dumps(compact)
    if len(line) > 1900:
        # Degrade, never overflow: keep the slowest queries (the ones a
        # reader acts on) until the line fits; the full map is in the
        # side file either way. "best" stays positional with the
        # truncated "queries" map.
        ranked = sorted(times, key=times.get, reverse=True)
        while len(line) > 1900 and ranked:
            ranked.pop()
            keep = set(ranked)
            compact["queries"] = {
                n: round(times[n], 2) for n in times if n in keep
            }
            compact["best"] = [
                round(min(raw[n]), 2) for n in times if n in keep
            ]
            compact["queries_truncated_to"] = len(ranked)
            line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
