"""Winnowing document fingerprints + fingerprint-overlap detection.

Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the MOSS
algorithm): hash every k-char gram of the normalized text, slide a
window of ``w`` consecutive gram hashes, and keep each window's
MINIMUM as a fingerprint. Any shared substring of length ≥ w + k − 1
between two documents is then guaranteed to share at least one
fingerprint, while only ~2/(w+1) of the grams are kept — the classic
local-sampling guarantee that makes plagiarism / near-dup overlap
detection tractable.

Relation to the neighbors: substring dedup (operators/substring.py)
uses a fixed positional stride (cheap, no guarantee); MinHash
(operators/dedup.py) estimates whole-document Jaccard. Winnowing sits
between: position-local fingerprints with a *provable* shared-substring
guarantee, the right primitive for "which training docs contain this
eval passage VERBATIM-ish" forensics.

100 TB design: the gram hashing and window minima are computed entirely
inside per-row array HOFs — whole-stage codegen, zero shuffle, and the
text itself never leaves its input partition. Only the winnowed
fingerprints (density ≈ 2/(w+1) of grams, as (doc_id, long) pairs) hit
an exchange. The overlap pair join is bucketed by fingerprint value —
work is Σ_fp n_fp², never corpus² — with a ``max_df`` guard dropping
boilerplate fingerprints (the same stop-gram suppression as
substring dedup's ``max_gram_df``), and AQE splits any residual skew.

The per-window ``slice`` scan costs O(n·w) hash comparisons per doc —
JVM-side and branch-free; the alternative (two-pointer monotonic deque)
needs per-row Python. At w ≤ 16 the HOF wins by a wide margin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.dedup import _h64, _normalized


def _apply_max_df(fps: DataFrame, max_df: int | None) -> DataFrame:
    """Drop fingerprints present in more than ``max_df`` documents —
    the boilerplate guard shared by overlap and containment (one copy
    so the df-count semantics cannot drift between the two paths).

    WINDOW form, not groupBy + join-back (round-9 restructure): the
    count-over-fp window needs exactly ONE exchange of the (id, fp)
    stream, leaves the output hash-partitioned AND sorted by ``fp`` —
    which is precisely the layout the downstream fp equi-self-join
    needs, so the join planner adds NO further exchange or sort, and
    the two join branches collapse into a ReusedExchange of the same
    kernel pass. The old shape (count agg + semi-join-back, plus a
    localCheckpoint pinning the raw fingerprint stream so the kernel
    wouldn't run 4×) cost three extra exchanges of the full stream and
    — the round-8 5M-doc killer — hundreds of millions of checkpoint
    block rows squatting in block-manager memory while the partial agg
    asked for its first page (UNABLE_TO_ACQUIRE_MEMORY at stage 5 of
    the cross-executor run). Window count groups spill via
    ExternalAppendOnlyUnsafeRowArray, so a boilerplate fp with a huge
    df is disk-bounded, not heap-bounded."""
    if max_df is None:
        return fps
    from pyspark.sql import Window as W

    return (
        fps.withColumn("__df", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("__df") <= int(max_df))
        .drop("__df")
    )


@register_stage("winnow_fingerprints")
def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "poly64",
    rescue_starved: bool = True,
) -> DataFrame:
    """Distinct winnowed fingerprints: one ``(id_col, fp)`` row per
    selected gram hash.

    Documents shorter than a full window keep the minimum over the
    grams they do have (so short docs still fingerprint); NULL text
    yields no rows. ``hash_fn="md5_60"`` makes the fingerprints
    engine-reproducible for the DuckDB oracle; ``hash_fn="poly64"``
    (the DEFAULT since round 8; ``xxhash64`` remains the JVM-only
    fallback for sessions without Python workers)
    routes to the Arrow-batched rolling-hash kernel
    (:func:`~meds_transforms_spark.operators.grams.winnow_fingerprints_poly`)
    — ALSO engine-reproducible (DuckDB ``list_reduce`` fold) and ~10×
    cheaper per gram than the interpreted HOF lambda; its grams are
    UTF-8 byte windows (identical to char windows on ASCII text).
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    if hash_fn == "poly64":
        from meds_transforms_spark.operators.grams import winnow_fingerprints_poly

        return winnow_fingerprints_poly(
            df, k, w, text_col, id_col, rescue_starved=rescue_starved
        )
    # dedup-family normalization (ONE shared definition — fingerprints
    # must stay hash-compatible with the dedup/oracle mirrors)
    txt = _normalized(F.col(text_col))
    # Materialize each derived array into a real column before the next
    # HOF references it — a lambda re-referencing a computed array
    # expression re-evaluates it per element (the documented O(n²)
    # HOF-CSE pitfall).
    base = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__txt", txt)
        .withColumn(
            "__ng", F.greatest(F.length(F.col("__txt")) - F.lit(k - 1), F.lit(1))
        )
        .withColumn(
            "__hs",
            F.transform(
                F.sequence(F.lit(1), F.col("__ng")),
                lambda i: _h64(hash_fn, F.col("__txt").substr(i, F.lit(k))),
            ),
        )
    )
    if w == 1:
        window_min = F.col("__hs")
    elif w <= 16:
        # least(get(i), ..., get(i+w-1)) instead of array_min(slice(...)):
        # HOF lambdas run INTERPRETED (CodegenFallback), and slice()
        # allocates a fresh w-element array per window — measured ~20%
        # of the whole fingerprint stage at w=8. The flat least-of-gets
        # chain reads the shared array in place, no allocation. Beyond
        # w≈16 the chain's O(w) expression tree stops paying for
        # itself; fall back to the slice form.
        window_min = F.transform(
            F.sequence(F.lit(0), F.col("__ng") - F.lit(w)),
            lambda i: F.least(*[F.get(F.col("__hs"), i + F.lit(j)) for j in range(w)]),
        )
    else:
        window_min = F.transform(
            F.sequence(F.lit(1), F.col("__ng") - F.lit(w - 1)),
            lambda i: F.array_min(F.slice(F.col("__hs"), i, w)),
        )
    mins = F.when(F.col("__ng") >= w, window_min).otherwise(
        F.array(F.array_min(F.col("__hs")))
    )
    # Explode the expression DIRECTLY in one select: binding it to an
    # intermediate withColumn first makes the optimizer re-inline the
    # whole hash-array expression under Generate — measured 150×
    # slower (0.3 s → 47 s at 50 docs) than this shape.
    return base.select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp"))


@register_stage("winnow_overlap")
def winnow_overlap(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "poly64",
    packed_ids: bool | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints:
    ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    ``max_df`` drops fingerprints present in more than that many
    documents before pairing (boilerplate headers/footers would
    otherwise connect everything to everything — the Σ n_fp² blowup).
    The join is a fingerprint-bucketed equi-join: candidate generation
    never compares documents that share no fingerprint.

    The pair AGGREGATION is the measured hot spot, not the join: the
    candidate stream has ~no duplicate pairs within an fp-partition, so
    the map-side partial aggregate built multi-million-entry hash maps
    for ~zero reduction and then shuffled the stream anyway (measured
    11.9 s warm for a 38M-candidate corpus). Two fixes, both measured
    on that corpus:
    - explicit ``repartition`` on the pair key BEFORE the groupBy, so
      the one hash pass runs post-shuffle (partial+final pipelined in
      a single stage): 11.9 s → 9.0 s;
    - ``packed_ids``: pack the pair into ONE 64-bit key
      (``id_a << 32 | id_b``) so the exchange carries 8-byte rows and
      the aggregate hashes a single long: 9.0 s → 5.7 s.
    ``packed_ids=None`` (default) auto-selects by the id column's
    dtype: byte/short/int ids pack via a masked BIJECTION (any two
    32-bit patterns, negatives included, map to one unique long — no
    runtime guard can fire); long/string/other id spaces fall back to
    the two-column aggregate, since a 64-bit (e.g. hash-derived) id
    can't be proven packable at plan time and a runtime raise on valid
    data is worse than the slower aggregate. Pass ``packed_ids=True``
    explicitly when you KNOW a long id space satisfies
    ``0 <= id < 2³¹`` (e.g. dense row numbers) — that path keeps an
    in-plan ``raise_error`` guard (two comparisons per row), since a
    silently wrapped shift would MERGE DIFFERENT PAIRS.
    """
    # No checkpoint (round-9): with the window-form max_df guard the
    # whole pre-pair pipeline is kernel → ONE fp exchange → sort →
    # window-count filter, and both pair-join branches are identical
    # subtrees over that exchange, so Spark plans a ReusedExchange —
    # the fingerprint kernel runs once per job with nothing pinned in
    # block-manager memory (the round-7 4×-recompute problem was a
    # property of the old agg + join-back shape; asserted by
    # tests/test_winnow.test_overlap_plan_reuses_one_exchange). With
    # max_df=None there is no pre-join exchange; when the fp stream is
    # large the SMJ adds one identical exchange per branch and those
    # collapse into a reuse, but a broadcast-SMALL stream lets AQE pick
    # a BroadcastHashJoin whose build side re-runs the kernel (2×
    # MapInArrow — measured at sf0.001, pinned by
    # test_overlap_no_max_df_broadcast_runs_kernel_twice). Accepted:
    # the double pass only occurs when the stream fits in a broadcast
    # (≤ ~10 MB), where the kernel pass is cheap by construction; at
    # scale the SMJ/reuse shape is the one that planners pick.
    fps = _apply_max_df(
        winnow_fingerprints(df, k, w, text_col, id_col, hash_fn), max_df
    )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    joined = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    id_type = joined.select("id_a").schema[0].dataType
    is_int32 = isinstance(id_type, (ByteType, ShortType, IntegerType))
    if packed_ids is None:
        # Auto: pack only when the dtype makes packing TOTAL (every
        # 32-bit-or-narrower pair has a unique key); long/string ids
        # take the two-column aggregate rather than risking a runtime
        # raise (or an ANSI cast error) on valid data.
        packed_ids = is_int32
    if not packed_ids:
        return (
            joined.repartition("id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= int(min_shared))
        )
    if not is_int32 and not isinstance(id_type, LongType):
        raise ValueError(
            f"winnow_overlap(packed_ids=True) requires an integer id column; "
            f"got {id_type.simpleString()} — pass packed_ids=False"
        )
    # Cast to long BEFORE shifting: Spark's shiftleft follows Java
    # shift-masking, so shiftleft(int32_col, 32) is a silent no-op and
    # the key would degenerate to id_a|id_b, merging unrelated pairs.
    id_a64 = F.col("id_a").cast("long")
    id_b64 = F.col("id_b").cast("long")
    m32 = F.lit((1 << 32) - 1)
    if is_int32:
        # Masked bijection: the two 32-bit patterns (negatives included,
        # via the sign-extension-stripping AND) occupy disjoint halves
        # of the long — total on the dtype, no guard can fire.
        pk = F.shiftleft(id_a64.bitwiseAND(m32), 32).bitwiseOR(id_b64.bitwiseAND(m32))

        def unhalf(col):  # 32-bit pattern -> sign-extended value
            x = col.bitwiseAND(m32)
            return (x.bitwiseXOR(F.lit(1 << 31)) - F.lit(1 << 31)).cast(id_type)

        unpack_a = unhalf(F.shiftright("__pk", 32))
        unpack_b = unhalf(F.col("__pk"))
    else:
        in_range = (id_a64 >= 0) & (id_b64 < F.lit(1 << 31))
        pk = F.when(
            in_range, F.shiftleft(id_a64, 32).bitwiseOR(id_b64)
        ).otherwise(
            F.raise_error(
                F.lit(
                    "winnow_overlap(packed_ids=True) requires 0 <= id < 2**31; "
                    "pass packed_ids=False for arbitrary 64-bit ids"
                )
            )
        )
        # The guard proved 0 <= id < 2^31, so the halves unpack directly.
        unpack_a = F.shiftright("__pk", 32).cast(id_type)
        unpack_b = F.col("__pk").bitwiseAND(m32).cast(id_type)
    return (
        joined.select(pk.alias("__pk"))
        .repartition("__pk")
        .groupBy("__pk")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
        # Unpack back to the INPUT id dtype so the modes are
        # schema-neutral drop-ins.
        .select(unpack_a.alias("id_a"), unpack_b.alias("id_b"), "n_shared")
    )


@register_stage("winnow_contains")
def winnow_contains(
    corpus_df: DataFrame,
    probe_df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str | None = None,
    probe_id_col: str | None = None,
    hash_fn: str = "poly64",
    broadcast_probe: bool = True,
) -> DataFrame:
    """Cross-corpus passage containment: which corpus documents share
    ≥ ``min_shared`` winnowed fingerprints with which probe documents —
    ``(id_col, probe_id, n_shared)``.

    The decontamination FORENSIC next to decontaminate.py's flag/drop:
    given an eval set (probes), find the training docs that contain its
    passages (guaranteed hit for any verbatim overlap ≥ w + k − 1
    chars) and HOW MUCH they share — evidence for audits, not just a
    boolean. ``max_df`` (applied to the CORPUS side) suppresses
    boilerplate fingerprints.

    Scale: the corpus fingerprint stream stays map-side; with
    ``broadcast_probe=True`` (eval sets are small by nature) the join
    is a broadcast hash join — the 100 TB corpus never shuffles at
    all. Set it False only when the probe side is itself corpus-sized.
    """
    p_text = probe_text_col or text_col
    p_id = probe_id_col or id_col
    fps_c = winnow_fingerprints(corpus_df, k, w, text_col, id_col, hash_fn)
    fps_p = winnow_fingerprints(probe_df, k, w, p_text, p_id, hash_fn).select(
        F.col(p_id).alias("probe_id"), "fp"
    )
    if broadcast_probe and max_df is not None:
        # Pin the (tiny, by the broadcast_probe contract) probe stream:
        # it feeds both the semi-filter below and the pair join, and a
        # kernel subtree never canonicalizes into a reused exchange.
        fps_p = fps_p.localCheckpoint(eager=False)
        # Round-10 (guide §3.2): semi-filter the corpus fp stream by
        # the probe's distinct fingerprint set BEFORE the max_df
        # window, so the window's exchange carries only fps that can
        # reach the output — at 100 TB that is the difference between
        # shuffling the whole corpus fingerprint stream and shuffling
        # the (eval-set-sized) intersection. Results are unchanged:
        # the filter keeps whole fp-groups (membership depends only on
        # fp), so the window's per-fp document count over the filtered
        # stream equals the full-corpus count for every surviving fp,
        # and fps outside the probe set could never survive the pair
        # join anyway.
        fps_c = fps_c.join(
            F.broadcast(fps_p.select("fp").distinct()), "fp", "left_semi"
        )
    if max_df is not None:
        # window-form guard: ONE exchange of the (semi-filtered) corpus
        # fp stream (the old agg + join-back shape shuffled it twice
        # and pinned a checkpoint); with max_df=None the corpus never
        # shuffles at all under the broadcast probe join.
        fps_c = _apply_max_df(fps_c, max_df)
    if broadcast_probe:
        fps_p = F.broadcast(fps_p)
    return (
        fps_c.join(fps_p, "fp")
        .groupBy(id_col, "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
