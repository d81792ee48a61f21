"""Similarity search over embedding columns (array<float>).

- ``cosine_similarity`` / ``l2_norm``: built-in array HOF math
  (zip_with + aggregate) — JVM-side dot products, no UDF. Normalizing
  callers materialize ``l2_norm`` into a column and divide by that
  column: Catalyst does no CSE inside HOF lambdas, so a norm captured
  in the divide's lambda re-evaluates once per component (O(d²) per
  row; measured, SCALING.md).
- ``brute_force_topk``: exact top-k neighbors for a set of query
  vectors — broadcast the (small) query side, window-rank per query.
  This is the correctness baseline and the right physical plan whenever
  |queries| ≪ |corpus| (the common case): the corpus is scanned once,
  map-side, no corpus shuffle.
- ``lsh_topk``: approximate top-k via random-hyperplane buckets with
  multi-probe — the scale path when both sides are large.

Hyperplanes are deterministic pseudo-random: component j of plane p is
``sin(xxhash64(p, j))``-style hash-derived noise, so no fitted model
state needs to ship — any executor can regenerate the planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column, assume_normalized: bool = False) -> Column:
    if assume_normalized:
        return dot(a, b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _plane_component(plane: Column | int, j: Column) -> Column:
    """Deterministic pseudo-random N(0,1)-ish weight for (plane, dim j):
    map xxhash64 → uniform(0,1) → centered. Uniform-centered weights are
    fine for hyperplane LSH (only the sign of the dot product matters)."""
    h = F.xxhash64(plane, j)
    return (h.cast("double") / F.lit(float(2**63))) # in (-1, 1)


def hyperplane_bucket(vec: Column, dim: int, num_planes: int = 16) -> Column:
    """LSH bucket id: sign-bit string over ``num_planes`` random planes."""
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(num_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda j: _plane_component(p, j)),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.concat_ws("", bits)


def hyperplane_bucket_exact(
    vec: Column, dim: int, num_planes: int = 8, quant: int = 1_000_000
) -> Column:
    """Engine-reproducible LSH bucket: sign-random (±1) hyperplanes with
    integer-quantized projections.

    Weight(p, j) = ±1 from the low bit of an md5-derived hash of
    ``"p:j"``; component j is quantized ``floor(v·quant + 0.5)`` (floor
    is exact on doubles, so every engine computes the same integer).
    The projection is then an INTEGER sum — order-independent and
    bit-identical everywhere — so the bucket bit (sign) matches a SQL
    reimplementation exactly. Rademacher signs are a standard LSH
    family; quantization at 1e-6 only perturbs points within 1e-6·√d
    of a hyperplane, which moves bucket boundaries, not correctness
    (LSH buckets are approximate by construction).
    """
    from meds_transforms_spark.operators.dedup import _h64

    def plane_bit(p: Column) -> Column:
        w = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.getbit(_h64("md5_60", p, j), F.lit(0)) * 2 - 1,
        )
        terms = F.zip_with(
            vec,
            w,
            lambda x, wj: wj.cast("long")
            * F.floor(x * F.lit(float(quant)) + F.lit(0.5)).cast("long"),
        )
        proj = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
        return F.when(proj > 0, F.lit("1")).otherwise(F.lit("0"))

    bits = F.transform(F.sequence(F.lit(0), F.lit(num_planes - 1)), plane_bit)
    return F.concat_ws("", bits)


@register_stage("brute_force_topk")
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cos, rank).

    Plan: broadcast the query side → map-side nested-loop over the
    corpus scan → per-query window rank. Ties broken by corpus id for
    determinism. The corpus is never shuffled; the only exchange is the
    rank window on (query_id), whose input is already reduced if k
    pre-filtering is added upstream.

    Norms are computed ONCE per row on each side before the pair join
    (|C|+|Q| norm evaluations instead of 2·|C|·|Q|): array lambdas are
    interpreted, not codegen'd, so per-pair work must be the single dot
    product — measured 3.5× on the sf0.1 bench.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cvec"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    denom = F.col("__cn") * F.col("__qn")
    scored = c.join(F.broadcast(q)).withColumn(
        "cos",
        F.when(denom > 0, dot(F.col("__cvec"), F.col("__qvec")) / denom).cast("double"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "cos", "rank")
    )


@register_stage("brute_force_topk_vectorized")
def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    The scale path for HIGH-dimensional embeddings, where even one
    interpreted dot product per pair dominates: the (small) query side
    is collected once into a dense matrix shipped in the UDF closure;
    each Arrow batch of the corpus becomes a (batch × dim) matrix and
    one BLAS ``C @ Qᵀ`` scores every pair in the batch. Each batch
    emits only its local top-k per query (argpartition), so the final
    exact rank window sees ≤ batches·k·|Q| candidate rows instead of
    |C|·|Q| — the corpus is scanned once, map-side, and never shuffled.

    Local-top-k + global-top-k composes exactly (top-k of unioned
    per-batch top-ks = global top-k); boundary ties are kept by
    ordering candidates on (-cos, vec_id) in-batch, matching the
    global window's tie-break.

    Id columns pass through with their ORIGINAL dtype on both sides
    (query ids via an index map restored after the scan, corpus ids
    via Arrow take) — string/UUID ids work exactly as in
    :func:`brute_force_topk`. NULL or zero-norm QUERY vectors mirror
    the expression path: every cosine is NULL, so the top-k is the k
    lowest corpus ids with cos NULL. Documented divergence: NULL,
    wrong-length, or zero-norm CORPUS rows are excluded from
    candidates entirely (the expression path ranks them with NULL
    cosine, so there they surface only when k exceeds the number of
    well-formed candidates).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import types as T

    spark = corpus.sparkSession
    qid_field = T.StructField(
        "query_id", queries.select(query_id).schema[0].dataType
    )
    cid_field = T.StructField(
        "vec_id", corpus.select(corpus_id).schema[0].dataType
    )
    out_fields = T.StructType(
        [
            qid_field,
            cid_field,
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    q_rows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")
    ).collect()
    if not q_rows:
        return spark.createDataFrame([], out_fields)
    kk = int(k)

    def _norm(v):
        return float(np.linalg.norm(np.asarray(v, dtype=np.float64))) if v is not None else 0.0

    scorable = [(i, r) for i, r in enumerate(q_rows) if _norm(r["qv"]) > 0]
    null_q_ids = [r["qid"] for i, r in enumerate(q_rows) if _norm(r["qv"]) <= 0]

    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__v"),
    )
    parts = []
    if scorable:
        Q = np.array([r["qv"] for _, r in scorable], dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        dim = Q.shape[1]
        cand_schema = T.StructType(
            [T.StructField("__qi", T.IntegerType()), cid_field,
             T.StructField("cos", T.DoubleType())]
        )

        def score_batches(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                ids = rb.column(0)
                col = rb.column(1)
                arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
                # well-formed rows only: NULL/ragged rows would shift
                # the reshape; zero-norm rows would score 0.0 and
                # outrank real negative-cosine neighbours
                lens = np.nan_to_num(
                    pc.list_value_length(arr).to_numpy(zero_copy_only=False),
                    nan=-1.0,
                )
                valid = arr.is_valid().to_numpy(zero_copy_only=False) & (lens == dim)
                vidx = np.flatnonzero(valid)
                if vidx.size == 0:
                    continue
                flat = arr.filter(pa.array(valid)).flatten().to_numpy(
                    zero_copy_only=False
                )
                C = flat.reshape(vidx.size, dim).astype(np.float64, copy=False)
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                nz = cn[:, 0] > 0
                vidx = vidx[nz]
                if vidx.size == 0:
                    continue
                Cn = C[nz] / cn[nz]
                S = Cn @ Qn.T  # (well-formed batch rows, |scorable Q|)
                top = min(kk, vidx.size)
                # id-order rank within the batch (works for ANY
                # orderable id type; UTF-8 byte order == Spark's string
                # order) so boundary ties at the local cut keep the
                # id-smallest candidates — matching the global window's
                # (cos desc, vec_id asc) tie-break exactly, including
                # NULL ids: Spark's asc is NULLS FIRST, while Arrow's
                # sort_indices defaults to nulls-at-end.
                sort_idx = pc.sort_indices(
                    ids, null_placement="at_start"
                ).to_numpy(zero_copy_only=False)
                id_rank = np.empty(len(ids), dtype=np.int64)
                id_rank[sort_idx] = np.arange(len(ids))
                out_qi, out_idx, out_cos = [], [], []
                for j in range(S.shape[1]):
                    order = np.lexsort((id_rank[vidx], -S[:, j]))[:top]
                    out_qi.append(np.full(top, scorable[j][0], dtype=np.int32))
                    out_idx.append(vidx[order])
                    out_cos.append(S[order, j])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_qi)),
                        ids.take(pa.array(np.concatenate(out_idx))),
                        pa.array(np.concatenate(out_cos)),
                    ],
                    names=["__qi", "vec_id", "cos"],
                )

        cand = c.mapInArrow(score_batches, schema=cand_schema)
        qmap = spark.createDataFrame(
            [(i, r["qid"]) for i, r in scorable],
            T.StructType([T.StructField("__qi", T.IntegerType()), qid_field]),
        )
        parts.append(cand.join(F.broadcast(qmap), "__qi").select("query_id", "vec_id", "cos"))
    if null_q_ids:
        # expression-path mirror: all cosines NULL -> k lowest ids
        lows = c.select("vec_id").orderBy("vec_id").limit(kk)
        nq = spark.createDataFrame(
            [(q,) for q in null_q_ids], T.StructType([qid_field])
        )
        parts.append(
            lows.crossJoin(F.broadcast(nq)).select(
                "query_id", "vec_id", F.lit(None).cast("double").alias("cos")
            )
        )
    cand_all = parts[0]
    for p in parts[1:]:
        cand_all = cand_all.unionByName(p)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cand_all.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "vec_id", "cos", "rank")
    )


@register_stage("lsh_topk")
def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 12,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    bucket_fn: str = "hash",
) -> DataFrame:
    """Approximate top-k: compare only same-hyperplane-bucket pairs.

    At scale this replaces the O(|Q|·|C|) nested loop with an equi-join
    on bucket ids — a plain shuffle join Catalyst can plan (and AQE can
    skew-split). Recall is tuned by ``num_planes`` (fewer planes →
    bigger buckets → higher recall, more compute).

    ``bucket_fn="exact"`` switches to the engine-reproducible
    sign-random integer-projection bucketing
    (:func:`hyperplane_bucket_exact`) so a SQL oracle can recompute
    the identical buckets.
    """
    # filter-then-limit keeps CollectLimit's incremental scan while
    # skipping NULL vectors; an empty/all-null corpus has no neighbours
    # to return (and no dim to probe) — empty result, not a driver
    # IndexError/TypeError.
    dim_row = (
        corpus.filter(F.col(corpus_vec).isNotNull())
        .select(F.size(corpus_vec).alias("d"))
        .limit(1)
        .collect()
    )
    if not dim_row or dim_row[0]["d"] is None:
        from pyspark.sql import types as T

        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", queries.select(query_id).schema[0].dataType),
                    T.StructField("vec_id", corpus.select(corpus_id).schema[0].dataType),
                    T.StructField("cos", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    dim = dim_row[0]["d"]
    bucketize = (
        hyperplane_bucket_exact if bucket_fn == "exact" else hyperplane_bucket
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cvec"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    ).withColumn("__bucket", bucketize(F.col("__cvec"), dim, num_planes))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    ).withColumn("__bucket", bucketize(F.col("__qvec"), dim, num_planes))
    denom = F.col("__cn") * F.col("__qn")
    scored = c.join(q, "__bucket").withColumn(
        "cos",
        F.when(denom > 0, dot(F.col("__cvec"), F.col("__qvec")) / denom).cast("double"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "cos", "rank")
    )
