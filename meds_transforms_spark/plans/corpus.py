"""prepare_training_corpus — the composed LLM-data pipeline.

One call chains the extension operators into the standard pretraining
data-prep shape:

    raw documents
      → text_stats + quality_score        (codegen projections)
      → quality filter
      → exact_dedup                       (content-hash window)
      → minhash_lsh_dedup                 (near-dup LSH collapse)
      → language filter (optional)
      → fingerprint + token counts attached
      → write partitioned by (lang, quality bucket)   [optional]

Everything stays one lazy Catalyst plan until the optional write; the
only shuffles are the two dedup key exchanges. Partitioning the output
by (lang, quality_bucket) gives downstream sampling jobs partition
pruning — e.g. "high-quality English only" reads a directory subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 10,
    near_dedup: bool = True,
    languages: list[str] | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Returns the cleaned corpus with quality/stats columns attached."""
    from meds_transforms_spark.operators.dedup import exact_dedup, minhash_lsh_dedup
    from meds_transforms_spark.operators.text import (
        fingerprint,
        language_id,
        quality_score,
        token_count,
    )

    out = token_count(docs, text_col=text_col)
    out = quality_score(out, text_col=text_col)
    out = out.filter(
        (F.col("quality") >= float(min_quality)) & (F.col("n_tokens") >= int(min_tokens))
    )
    out = exact_dedup(out, text_col=text_col, id_col=id_col)
    if near_dedup:
        out = minhash_lsh_dedup(
            out, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, hash_fn=hash_fn,
        )
    out = language_id(out, text_col=text_col)
    if languages:
        out = out.filter(F.col("lang_pred").isin(list(languages)))
    out = fingerprint(out, text_col=text_col)
    return out.withColumn(
        "quality_bucket", F.least(F.floor(F.col("quality") * 10).cast("int"), F.lit(9))
    )


def curate_corpus_dsir(
    docs,
    target,
    min_words: int = 40,
    min_required_stopwords: int = 1,
    top_k: int = 100,
    budget: int = 512,
    hash_fn: str = "xxhash64",
    dsir_hash_fn: str | None = None,
    round_to: int | None = None,
):
    """The round-2c curation composition: published Gopher rules →
    exact dedup → DSIR importance weighting toward a target domain →
    top-k selection → sequence packing. Every stage is the scale-shaped
    operator documented in its own module; chaining them adds NO new
    shuffles beyond each stage's own (the stages exchange only
    id-keyed frames).

    Returns the pack assignment for the selected documents:
    ``(doc_id, n_tokens, pack_id, pack_pos, pack_offset)``.
    """
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.dedup import exact_dedup
    from meds_transforms_spark.operators.dsir import dsir_weights
    from meds_transforms_spark.operators.packing import pack_sequences
    from meds_transforms_spark.operators.text import (
        gopher_quality_filter,
        token_count,
    )

    g = gopher_quality_filter(
        docs, min_words=min_words, min_required_stopwords=min_required_stopwords
    )
    kept = g.filter("gopher_pass").select(*docs.columns)
    deduped = exact_dedup(kept)
    # dsir_hash_fn (default: hash_fn) selects the DSIR feature hash
    # independently — "poly64" routes that stage to the Arrow bucket
    # kernel while the pack-order hash stays on hash_fn.
    weighted = dsir_weights(
        deduped, target, hash_fn=dsir_hash_fn or hash_fn, round_to=round_to
    )
    # top-k: weights are rounded (engine-identical), doc_id breaks ties
    sel = weighted.orderBy(
        F.desc("dsir_logweight"), F.col("doc_id")
    ).limit(int(top_k))
    counted = token_count(sel)
    return pack_sequences(counted, budget=int(budget), order="hash", hash_fn=hash_fn)


def curate_corpus_ccnet(
    docs: DataFrame,
    probe_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    keep_buckets: tuple[str, ...] = ("head", "middle"),
    gopher_kwargs: dict | None = None,
    n_shards: int = 8,
    seed: int = 42,
    winnow_k: int = 10,
    winnow_w: int = 8,
    min_shared: int = 3,
    max_df: int | None = 500,
    probe_text_col: str | None = None,
    probe_id_col: str | None = None,
    hash_fn: str = "xxhash64",
    winnow_hash_fn: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """The CCNet-shaped curation composition, end to end:

        raw docs
          → gopher_quality_filter            (codegen rule projection)
          → ccnet_buckets                    (bigram-LM perplexity terciles
                                              per language; keep head+middle)
          → winnow_contains vs probe_df      (eval-passage decontamination:
                                              drop any doc sharing
                                              ≥ min_shared fingerprints)
          → shuffle_shards                   (deterministic training order)

    Returns ``(id_col, lang, ppl_bucket, shard_id, pos_in_shard)`` —
    the trainable manifest. Every stage is the registered operator; the
    composition adds NO new shuffle classes: gopher is a projection,
    ccnet's model tables derive from one pinned explode, the probe side
    of the decontamination broadcast, and the shard rank is the
    two-phase prefix.

    ``hash_fn="md5_60"`` + ``round_to`` give the engine-reproducible
    mode the driver oracle replays. ``winnow_hash_fn`` (default: same
    as ``hash_fn``) selects the decontamination stage's gram hash
    independently — ``"poly64"`` routes that stage to the Arrow-batched
    rolling-hash kernel (operators/grams), also oracle-reproducible,
    while the shard hashing stays on ``hash_fn``.
    """
    from meds_transforms_spark.operators.ids import shuffle_shards
    from meds_transforms_spark.operators.lm import ccnet_buckets
    from meds_transforms_spark.operators.text import gopher_quality_filter
    from meds_transforms_spark.operators.winnow import winnow_contains

    survivors = gopher_quality_filter(
        docs, text_col=text_col, **(gopher_kwargs or {})
    ).filter(F.col("gopher_pass"))
    # keep only the pipeline's own columns — the rule booleans served
    # their purpose
    survivors = survivors.select(*docs.columns)
    # Pin the gopher output: ccnet_buckets consumes it THREE ways (the
    # bigram-count kernel, the score join, and through `scored` the
    # quantile pass), and those subtrees never canonicalize into one
    # ReusedExchange — unpinned, the corpus scan + rule projection ran
    # 3× per job (profiled round 7: three 19.6 MB single-scan stages on
    # the critical path). GC-released checkpoint; at scale one
    # filtered-corpus materialization is cheaper than two extra scans.
    survivors = survivors.localCheckpoint(eager=False)
    bucketed = ccnet_buckets(
        survivors, text_col=text_col, id_col=id_col, lang_col=lang_col,
        round_to=round_to if round_to is not None else 6,
    )
    selected = bucketed.filter(F.col("ppl_bucket").isin(*keep_buckets))
    # `selected` feeds both the decontamination fingerprint branch and
    # the final anti-join probe — unpinned, the docs scan + gopher rule
    # projection + bucket joins would re-execute per branch (the
    # round's measured fan-out class); GC-released checkpoint.
    selected = selected.localCheckpoint(eager=False)
    contaminated = (
        winnow_contains(
            selected, probe_df, k=winnow_k, w=winnow_w,
            min_shared=min_shared, max_df=max_df,
            text_col=text_col, id_col=id_col,
            probe_text_col=probe_text_col, probe_id_col=probe_id_col,
            hash_fn=winnow_hash_fn or hash_fn,
        )
        .select(id_col)
        .distinct()
    )
    clean = selected.join(contaminated, id_col, "left_anti")
    # Pin the decontaminated frame (round-10): shuffle_shards' rank
    # machinery consumes it twice (the pinned key projection and the
    # final rank join-back) — unpinned, the winnow-containment
    # anti-join subtree re-executes per consumer. GC-released
    # checkpoint, same rationale as the two pins above.
    clean = clean.localCheckpoint(eager=False)
    sharded = shuffle_shards(
        clean, n_shards=n_shards, seed=seed, id_col=id_col, hash_fn=hash_fn
    )
    return sharded.select(id_col, lang_col, "ppl_bucket", "shard_id", "pos_in_shard")
