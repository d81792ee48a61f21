"""Distributed quantiles ≡ array quantiles; IVF recall sanity."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_distributed_quantiles_match_array_impl(spark):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.quantiles import grouped_exact_quantiles
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rng = random.Random(7)
    rows = [
        (i % 5, None, f"C{i % 3}", rng.uniform(0, 100), None) for i in range(500)
    ] + [(0, None, "C0", float("nan"), None), (0, None, "C1", None, None)]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)

    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    arr = aggregate_code_metadata(
        df, aggregations=[{"name": "values/quantiles", "quantiles": qs}]
    )
    arr_vals = {
        r["code"]: [r["values/quantiles"][f"values/quantile/{q}"] for q in qs]
        for r in arr.collect()
    }
    dist = grouped_exact_quantiles(df, quantiles=qs)
    dist_vals = {r["code"]: [r[f"q{q}"] for q in qs] for r in dist.collect()}
    assert arr_vals == dist_vals


def test_ivf_topk_recall_vs_exact(spark):
    from meds_transforms_spark.operators.ivf import ivf_topk
    from meds_transforms_spark.operators.similarity import brute_force_topk

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # Self-match must always be found (the query vector is in the corpus
    # and shares its own cell); overall recall should be non-trivial.
    recalls = []
    for qid, want in exact_sets.items():
        got = approx_sets.get(qid, set())
        assert qid in got
        recalls.append(len(want & got) / len(want))
    assert sum(recalls) / len(recalls) >= 0.4


def test_kmeans_refine_improves_quantization(spark):
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.ivf import (
        _nearest_cells,
        ivf_centroids,
        kmeans_refine,
    )
    from meds_transforms_spark.operators.similarity import dot, l2_norm

    # 4 well-separated axis clusters in 8-d with small hash-noise.
    d, n = 8, 400
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda j: (
                F.when(j == (F.col("id") % 4) * 2, F.lit(10.0)).otherwise(F.lit(0.0))
                + F.xxhash64("id", j).cast("double") / F.lit(float(2**63))
            ),
        ).alias("embedding"),
    )

    def mean_quant_cos(cents):
        c = base.select(
            "vec_id",
            F.col("embedding").alias("__vec"),
            l2_norm(F.col("embedding")).alias("__vnorm"),
        )
        assigned = _nearest_cells(c, cents, "vec_id", "__vec", n_probe=1)
        # re-join centroid vectors to score the assignment quality
        scored = assigned.join(cents, "__cell").select(
            (
                dot(F.col("__vec"), F.col("__cvec"))
                / (F.col("__vnorm") * F.col("__cnorm"))
            ).alias("cos")
        )
        return scored.agg(F.avg("cos")).collect()[0][0]

    seeds = ivf_centroids(base, 4)
    refined = kmeans_refine(base, n_cells=4, iters=3)
    q_seed, q_ref = mean_quant_cos(seeds), mean_quant_cos(refined)
    assert q_ref > q_seed + 0.002, (q_seed, q_ref)
    assert refined.count() == 4


def test_ivf_topk_accepts_refined_centroids(spark):
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.ivf import ivf_topk, kmeans_refine

    base = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.xxhash64("id", j).cast("double") / F.lit(float(2**63)),
        ).alias("embedding"),
    )
    qs = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_refine(base, n_cells=4, iters=2)
    out = ivf_topk(base, qs, k=5, n_cells=4, n_probe=2, centroids=cents)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["rank"] <= 5 for r in rows)


def test_approx_methods_recall_floor(spark):
    """IVF (probing 4 of 8 cells) must recover most of the exact top-10;
    this guards against silent candidate-generation regressions."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.ivf import ivf_topk
    from meds_transforms_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    exact = brute_force_topk(emb, qs, k=10, corpus_vec="emb_d", query_vec="embedding")
    approx = ivf_topk(
        emb, qs, k=10, n_cells=8, n_probe=4, corpus_vec="emb_d", query_vec="embedding"
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall


def test_ivf_centroids_seed_numbering(spark):
    """Cells are numbered 1..n_cells by vec_id in one job (a window over
    the limit's one sorted partition); a lone NULL vec_id sorts first
    and takes cell 1; seeds that tie on vec_id would get arrival-order
    cell numbers, so collecting them raises."""
    import pytest

    from meds_transforms_spark.operators.ivf import ivf_centroids
    from tests.conftest import jobs_started

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows, jobs = jobs_started(spark, ivf_centroids(emb, 16).collect)
    assert sorted(r["__cell"] for r in rows) == list(range(1, 17))
    assert len(jobs) == 1, jobs

    schema = "vec_id long, embedding array<double>"
    nulls = spark.createDataFrame(
        [(None, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], schema
    )
    got = sorted((r["__cell"], r["__cvec"]) for r in ivf_centroids(nulls, 3).collect())
    assert got == [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]

    tied = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (3, [1.0, 1.0])], schema
    )
    cents = ivf_centroids(tied, 2)  # lazy: the guard fires at action time
    with pytest.raises(Exception, match="not unique on vec_id"):
        cents.collect()
