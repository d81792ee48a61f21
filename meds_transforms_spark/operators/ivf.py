"""IVF-style approximate nearest-neighbor search.

The scale path for similarity when both sides are large: partition the
corpus by coarse cells (inverted file), probe only the query's nearest
cells.

Centroid selection here is deterministic-by-construction: the first
``n_cells`` corpus vectors by id serve as seeds. On shuffled/synthetic
corpora this is equivalent to uniform sampling, needs no fitted model
state, and keeps every run (and the DuckDB oracle) bit-reproducible. A
k-means refinement can be layered on later without changing the query
path.

Plan shape: centroids are broadcast (tiny); corpus cell assignment is a
map-side projection; the probe is an equi-join on cell id — a plain
shuffle join AQE can skew-split — followed by per-query top-k ranking.
The corpus is never cross-joined against the full query set.

L2 norms are computed ONCE per vector (corpus norms are persisted into
the index) instead of inside every pair comparison: array lambdas run
interpreted, so per-pair work must be the single dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.similarity import dot, l2_norm


def _nearest_cells(
    vec_df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, n_probe: int
):
    """(row, cell) pairs for the n_probe highest-cosine centroids.

    ``vec_df`` must carry a precomputed ``__vnorm``; centroids carry
    ``__cnorm`` (from :func:`ivf_centroids`). The pair expression is
    then one dot product + one divide.
    """
    denom = F.col("__vnorm") * F.col("__cnorm")
    scored = vec_df.join(F.broadcast(centroids)).withColumn(
        "__cell_cos",
        F.when(denom > 0, dot(F.col(vec_col), F.col("__cvec")) / denom),
    )
    w = W.partitionBy(id_col).orderBy(F.col("__cell_cos").desc(), F.col("__cell"))
    return (
        scored.withColumn("__cell_rank", F.row_number().over(w))
        .filter(F.col("__cell_rank") <= n_probe)
        .drop("__cvec", "__cnorm", "__cell_cos", "__cell_rank")
    )


def assign_cells_arrow(
    vec_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell assignment as one BLAS matmul per Arrow batch:
    ``(id, vec, __cell)``, map-side, zero shuffle.

    The scale path for LARGE cell counts. The HOF path
    (:func:`_nearest_cells`) evaluates an interpreted dot product per
    (vector, centroid) pair — O(N · n_cells · dim) interpreted ops,
    quadratic once n_cells scales with the corpus (SemDeDup's own
    setting keeps cell size constant, i.e. n_cells ∝ N). Here each
    Arrow batch becomes a (batch × dim) matrix and one ``B @ Cᵀ``
    scores every pair; measured ~40× at 40k vectors × 640 cells
    (77 s → 2 s cold, SCALING.md round-6).

    The centroid matrix rides in the UDF closure — bounded by the
    :func:`ivf_centroids` 1M guard; at SemDeDup's 100k cells × 768
    dims it is ~600 MB, held once per executor, the documented cost
    of constant cell size.

    NOT the oracle path: numpy's pairwise summation rounds differently
    from the HOF left-fold, so a vector whose two best cosines agree
    to the last ulp may pick the other cell. Ties at EQUAL score break
    to the lowest ``__cell`` in both paths (centroid rows are ordered,
    argmax returns the first maximum). NULL, zero-norm, and
    wrong-length (including empty) embeddings assign to the lowest
    cell — the same outcome the HOF path produces (its dot/norm HOFs
    yield NULL or 0 cosines for malformed rows, and NULLS-LAST
    descending rank then picks the lowest ``__cell``).

    EAGER: constructing this plan runs one bounded Spark job — the
    centroid frame (≤ the ivf_centroids 1M-row guard) is collected
    into the UDF closure here, because PySpark pickles the closure at
    UDF-creation time, not at action time. Plan-only tooling that must
    stay job-free should route around arrow-mode entry points.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # Preserve the caller's id dtype end-to-end (a cast to long would
    # silently NULL string ids and break the downstream pair filter).
    id_ddl = vec_df.select(id_col).schema[0].dataType.simpleString()
    out_schema = f"{id_col} {id_ddl}, {vec_col} array<double>, __cell int"

    rows = centroids.select("__cell", "__cvec").orderBy("__cell").collect()
    if not rows:
        return vec_df.sparkSession.createDataFrame([], out_schema)
    cells = np.array([r["__cell"] for r in rows], dtype=np.int64)
    # The output schema pins __cell to int (matching ivf_centroids'
    # row_number); a caller-supplied centroid frame with wider ids
    # would silently WRAP under astype(int32) below — fail loudly.
    if cells.max() >= 2**31 or cells.min() < -(2**31):
        raise ValueError(
            "assign_cells_arrow: centroid __cell ids exceed int32 range "
            f"([{cells.min()}, {cells.max()}]); renumber the centroid "
            "frame (ivf_centroids uses a dense row_number)"
        )
    clens = {len(r["__cvec"]) for r in rows}
    if len(clens) != 1 or 0 in clens:
        raise ValueError(
            "assign_cells_arrow: centroid vectors must share one non-zero "
            f"dimension, got lengths {sorted(clens)}"
        )
    C = np.array([r["__cvec"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    # zero-norm centroid → zero column → cosine 0 for every vector
    # (the HOF path yields NULL, ranked last; identical outcome unless
    # every other cosine is negative — documented edge)
    Cn = np.divide(C, norms, out=np.zeros_like(C), where=norms > 0)
    dim = C.shape[1]
    lowest_cell = int(cells[0])

    def assign(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            col = rb.column(1)
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            # Mask NULL and wrong-length rows out of the matmul (they
            # take the lowest cell, like the HOF path): flatten() drops
            # NULL entries and a ragged row would shift its neighbours'
            # reshape positions, so select the good rows first.
            lens = np.nan_to_num(
                pc.list_value_length(arr).to_numpy(zero_copy_only=False),
                nan=-1.0,
            )
            valid = arr.is_valid().to_numpy(zero_copy_only=False) & (lens == dim)
            nv = int(valid.sum())
            best = np.full(n, lowest_cell, dtype=np.int64)
            if nv:
                good = arr.filter(pa.array(valid))
                flat = good.flatten().to_numpy(zero_copy_only=False)
                V = flat.reshape(nv, dim).astype(np.float64, copy=False)
                vn = np.linalg.norm(V, axis=1, keepdims=True)
                Vn = np.divide(V, vn, out=np.zeros_like(V), where=vn > 0)
                S = Vn @ Cn.T  # (non-null batch rows, n_cells)
                best[valid] = cells[S.argmax(axis=1)]
            yield pa.RecordBatch.from_arrays(
                [ids, arr, pa.array(best.astype(np.int32))],
                names=[id_col, vec_col, "__cell"],
            )

    src = vec_df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    return src.mapInArrow(assign, schema=out_schema)


def assign_cells_exact(
    vec_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell assignment with BIT-EXACT HOF-fold semantics, one
    numpy pass per Arrow batch: ``(id, vec, __cell)``, map-side, zero
    shuffle — the round-10 drop-in for the ``n_probe=1`` corpus
    assignment that :func:`_nearest_cells` serves interpreted.

    Unlike :func:`assign_cells_arrow` (pairwise-summing BLAS matmul —
    NOT the oracle path), every float operation here replays the
    Catalyst expressions in their exact order, so the assignment is
    bit-identical to the HOF plan by construction, not just on
    tie-free data:

    - dot(v, c) is accumulated one dimension at a time
      (``acc += v[j]·c[j]`` left fold from 0.0 — the
      ``aggregate(zip_with(...))`` order);
    - the vector norm is ``sqrt(acc += v[j]²)`` in the same fold order;
    - the centroid norm is the JVM-computed ``__cnorm`` COLLECTED from
      the centroid frame, never recomputed;
    - ``cos = dot/(vnorm·cnorm)`` guarded by ``denom > 0`` exactly like
      ``F.when``, and the winner is the FIRST maximum over cells in
      ascending ``__cell`` order — row_number's (cos DESC NULLS LAST,
      __cell ASC) tie-break;
    - rows whose cosines are all NULL (zero/NULL norms, wrong
      dimension: zip_with pads with NULL and the fold goes NULL) take
      the lowest cell, row_number's outcome on an all-NULL ordering.

    The interpreted form walks an expression tree per (vector,
    centroid, dimension) — O(N·n_cells·dim) interpreted evals (~16M at
    sf0.1); here the same arithmetic is ``dim`` vectorized numpy FMAs
    over a (batch, n_cells) accumulator. Rows with NULL/non-finite
    elements fall back to an exact per-row replay. Like
    assign_cells_arrow, the centroid collect is one bounded EAGER job.
    """
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_ddl = vec_df.select(id_col).schema[0].dataType.simpleString()
    vec_ddl = vec_df.select(vec_col).schema[0].dataType.simpleString()
    out_schema = f"{id_col} {id_ddl}, {vec_col} {vec_ddl}, __cell int"
    elem_f32 = vec_ddl.startswith("array<float>")

    rows = centroids.select("__cell", "__cvec", "__cnorm").orderBy("__cell").collect()
    if not rows:
        return vec_df.sparkSession.createDataFrame([], out_schema)
    cells = np.array([r["__cell"] for r in rows], dtype=np.int64)
    if cells.max() >= 2**31 or cells.min() < -(2**31):
        raise ValueError(
            "assign_cells_exact: centroid __cell ids exceed int32 range"
        )
    clens = {len(r["__cvec"]) for r in rows}
    if len(clens) != 1 or 0 in clens:
        raise ValueError(
            "assign_cells_exact: centroid vectors must share one non-zero "
            f"dimension, got lengths {sorted(clens)}"
        )
    cdtype = np.float32 if elem_f32 else np.float64
    C = np.array([r["__cvec"] for r in rows], dtype=cdtype)
    if any(r["__cnorm"] is None for r in rows) or not np.all(np.isfinite(C)):
        # Spark orders NaN ABOVE every number, so a NaN centroid norm
        # would "win" the HOF ranking in engine-specific ways — refuse
        # to reproduce that pathology rather than silently diverge.
        raise ValueError(
            "assign_cells_exact: centroid frame carries NULL/non-finite "
            "values; fix the centroids (or use ivf._nearest_cells)"
        )
    cnorm = np.array([r["__cnorm"] for r in rows], dtype=np.float64)
    dim = C.shape[1]
    lowest_cell = int(cells[0])

    def slow_row(v):
        """Exact per-row replay of the HOF plan for irregular rows.

        NULL rows, wrong-dimension rows (zip_with pads → NULL dot),
        NULL elements (the fold goes NULL) and NaN elements (every
        cosine goes NaN → all cells tie → lowest __cell wins the
        row_number) all land on the lowest cell."""
        if v is None or len(v) != dim:
            return lowest_cell
        if any(e is None or not math.isfinite(e) for e in v):
            return lowest_cell
        vn_acc = 0.0
        for e in v:
            p = float(np.float32(e) * np.float32(e)) if elem_f32 else e * e
            vn_acc = vn_acc + p
        vnorm = math.sqrt(vn_acc)
        best_cos, best_cell = None, lowest_cell
        for ci in range(len(cells)):
            denom = vnorm * cnorm[ci]
            if not denom > 0:
                continue
            acc = 0.0
            for j in range(dim):
                p = (
                    float(np.float32(v[j]) * C[ci, j])
                    if elem_f32
                    else v[j] * float(C[ci, j])
                )
                acc = acc + p
            cos = acc / denom
            if best_cos is None or cos > best_cos:
                best_cos, best_cell = cos, int(cells[ci])
        return best_cell

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            col = rb.column(1)
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            lens = np.nan_to_num(
                pc.list_value_length(arr).to_numpy(zero_copy_only=False), nan=-1.0
            )
            valid = arr.is_valid().to_numpy(zero_copy_only=False) & (lens == dim)
            best = np.full(n, lowest_cell, dtype=np.int64)
            flat = arr.flatten()
            if flat.null_count == 0:
                nv = int(valid.sum())
                if nv:
                    good = arr.filter(pa.array(valid))
                    V = (
                        good.flatten()
                        .to_numpy(zero_copy_only=False)
                        .reshape(nv, dim)
                        .astype(cdtype, copy=False)
                    )
                    if np.all(np.isfinite(V)):
                        acc = np.zeros((nv, len(cells)), dtype=np.float64)
                        vn = np.zeros(nv, dtype=np.float64)
                        for j in range(dim):
                            # identical IEEE ops in identical (left-fold)
                            # order: product at input precision, then a
                            # double accumulate
                            acc += V[:, j, None] * C[None, :, j]
                            vn += V[:, j] * V[:, j]
                        vnorm = np.sqrt(vn)
                        denom = vnorm[:, None] * cnorm[None, :]
                        with np.errstate(invalid="ignore", divide="ignore"):
                            cos = np.where(denom > 0, acc / denom, -np.inf)
                        has_any = (denom > 0).any(axis=1)
                        pick = cells[np.argmax(cos, axis=1)]
                        best[valid] = np.where(has_any, pick, lowest_cell)
                    else:
                        vlist = arr.to_pylist()
                        best = np.array(
                            [slow_row(v) for v in vlist], dtype=np.int64
                        )
                # invalid rows keep lowest_cell
                # wrong-dim (but non-null) rows: NULL cos everywhere →
                # lowest cell — already the fill value
            else:
                vlist = arr.to_pylist()
                best = np.array([slow_row(v) for v in vlist], dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, arr, pa.array(best.astype(np.int32))],
                names=[id_col, vec_col, "__cell"],
            )

    src = vec_df.select(F.col(id_col), F.col(vec_col))
    return src.mapInArrow(fn, schema=out_schema)


def ivf_centroids(corpus: DataFrame, n_cells: int, corpus_id: str = "vec_id", corpus_vec: str = "embedding") -> DataFrame:
    # Cell numbering is a JVM row_number over the limit(n_cells) output:
    # the limit leaves one sorted partition, so the window adds no
    # exchange and no sort, and Spark's "No Partition Defined for Window
    # operation" warning is expected here — its input is at most n_cells
    # rows. Seeds that tie on vec_id raise at action time, because their
    # cell numbers would otherwise depend on row arrival order.
    # The assert keeps the frame broadcastable: centroid tables join
    # every probe, so a huge n_cells is wrong twice.
    if n_cells > 1_000_000:
        raise ValueError(
            f"ivf_centroids: n_cells={n_cells} is past broadcast/global-"
            "window territory; IVF cell counts are typically ≤ 65536."
        )
    # NULL or EMPTY vectors can't seed cells (a NULL centroid poisons
    # every cosine downstream; an empty one makes the centroid matrix
    # ragged); such corpora seed from the well-formed subset. Testdata
    # has neither, so the oracle mirrors
    # (`FROM embeddings ORDER BY vec_id LIMIT n`) unchanged.
    c = corpus.filter(
        F.col(corpus_vec).isNotNull() & (F.size(F.col(corpus_vec)) > 0)
    ).select(F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("__cvec0"))
    w = W.orderBy("vec_id")
    cell = F.row_number().over(w)
    # `lag` is NULL on the first row, so a bare `<=>` would reject a
    # lone NULL vec_id; the first row never ties
    tied = (cell > 1) & F.lag("vec_id").over(w).eqNullSafe(F.col("vec_id"))
    return (
        c.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.when(
                tied,
                F.raise_error(
                    F.format_string(
                        "ivf_centroids: seeds are not unique on vec_id; "
                        "duplicate: %s",
                        F.col("vec_id"),
                    )
                ),
            )
            .otherwise(cell)
            .cast("int")
            .alias("__cell"),
            F.col("__cvec0").alias("__cvec"),
            l2_norm(F.col("__cvec0")).alias("__cnorm"),
        )
    )


def kmeans_refine(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    assign: str = "hof",
) -> DataFrame:
    """Lloyd's iterations over the deterministic seed centroids.

    Each round: (1) assign every vector to its nearest centroid — a
    broadcast of n_cells rows against a map-side scan, no corpus
    shuffle; (2) recompute centroids as the element-wise mean of
    assigned vectors — posexplode to (cell, dim, value) rows, one hash
    aggregation, rebuild the array with a sorted collect. Per-round
    cost is one corpus scan + one shuffle of (cell, dim) keys —
    n_cells·dim distinct keys, independent of corpus size, so partial
    aggregation does almost all the work map-side. Centroids are
    localCheckpoint'd per round to truncate the lineage.

    Cells that lose all members keep their previous centroid. Returns
    the refined centroid frame in :func:`ivf_centroids` layout
    (``__cell, __cvec, __cnorm``) — drop-in for ``ivf_topk(index=...)``
    builds.

    ``assign="arrow"`` swaps each round's per-(vector, centroid)
    interpreted dot for :func:`assign_cells_arrow`'s batch matmul —
    the scale path when n_cells ∝ N (same caveat as everywhere: float
    summation order differs, so a last-ulp argmax tie may flip a
    cell; on separated data the refinement is identical).
    """
    if assign not in ("hof", "arrow"):
        raise ValueError(f"kmeans_refine: unknown assign={assign!r}")
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__vec"),
        l2_norm(F.col(corpus_vec)).alias("__vnorm"),
    )
    from meds_transforms_spark.functions.iterative import checkpoint_reset_stats

    cents = checkpoint_reset_stats(ivf_centroids(corpus, n_cells, corpus_id, corpus_vec))
    for _ in range(int(iters)):
        if assign == "arrow":
            assigned = assign_cells_arrow(c, cents, "vec_id", "__vec")
        else:
            assigned = _nearest_cells(c, cents, "vec_id", "__vec", n_probe=1)
        means = (
            assigned.select("__cell", F.posexplode("__vec").alias("__j", "__x"))
            .groupBy("__cell", "__j")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__j", "__m"))),
                    lambda s: s["__m"],
                ).alias("__newvec")
            )
        )
        cents = (
            cents.join(means, "__cell", "left")
            .select(
                "__cell",
                F.coalesce(F.col("__newvec"), F.col("__cvec")).alias("__cvec"),
            )
            .withColumn("__cnorm", l2_norm(F.col("__cvec")))
            # reset stats too: the loop references cents twice per round,
            # so the checkpoint-carried size estimate compounds (see
            # functions/iterative.py)
            .transform(checkpoint_reset_stats)
        )
    return cents


def build_ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroids: DataFrame | None = None,
    assign: str = "hof",
) -> DataFrame:
    """One-time index build: (vec_id, __vec, __vnorm, __cell) assignment.

    At 100 TB this is the expensive pass (n_cells cosines per vector) —
    build once, ``write.partitionBy("__cell").parquet(...)`` and query
    against the persisted index; cell-partitioned storage means a probe
    touches only its cells' files (partition pruning). The vector norm
    is persisted alongside so query-time scoring never recomputes it.
    Pass ``centroids`` (e.g. from :func:`kmeans_refine`) to override the
    deterministic seeds. ``assign="arrow"`` uses the batch-matmul
    assignment (:func:`assign_cells_arrow`) — THE path for the
    "expensive pass" this docstring warns about once n_cells is large
    (the HOF form is O(N · n_cells · dim) interpreted ops)."""
    if assign not in ("hof", "arrow"):
        raise ValueError(f"build_ivf_index: unknown assign={assign!r}")
    if centroids is None:
        centroids = ivf_centroids(corpus, n_cells, corpus_id, corpus_vec)
    if assign == "arrow":
        a = assign_cells_arrow(corpus, centroids, corpus_id, corpus_vec)
        return a.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).alias("__vec"),
            l2_norm(F.col(corpus_vec)).alias("__vnorm"),
            "__cell",
        )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__vec"),
        l2_norm(F.col(corpus_vec)).alias("__vnorm"),
    )
    return _nearest_cells(c, centroids, "vec_id", "__vec", n_probe=1).select(
        "vec_id", "__vec", "__vnorm", "__cell"
    )


@register_stage("ivf_topk")
def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    index: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: (query_id, vec_id, cos, rank) over probed cells.

    Pass ``index`` (from ``build_ivf_index``, possibly read back from
    parquet) to skip the corpus assignment pass, and/or ``centroids``
    (e.g. refined by :func:`kmeans_refine`) to override the seeds."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
        l2_norm(F.col(query_vec)).alias("__qnorm"),
    )
    if centroids is None:
        centroids = ivf_centroids(corpus, n_cells, corpus_id, corpus_vec)
    c_cells = (
        index
        if index is not None
        else build_ivf_index(corpus, n_cells, corpus_id, corpus_vec, centroids)
    )
    if "__vnorm" not in c_cells.columns:  # index built by an older writer
        c_cells = c_cells.withColumn("__vnorm", l2_norm(F.col("__vec")))

    # Query side: probe the n_probe nearest cells.
    q_cells = _nearest_cells(
        q.select(
            "query_id",
            F.col("__qvec").alias("__vec"),
            F.col("__qnorm").alias("__vnorm"),
        ),
        centroids,
        "query_id",
        "__vec",
        n_probe=n_probe,
    ).select(
        "query_id", F.col("__vec").alias("__qv"), F.col("__vnorm").alias("__qnorm"), "__cell"
    )

    denom = F.col("__vnorm") * F.col("__qnorm")
    scored = c_cells.join(q_cells, "__cell").withColumn(
        "cos",
        F.when(denom > 0, dot(F.col("__vec"), F.col("__qv")) / denom).cast("double"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "cos", "rank")
    )
