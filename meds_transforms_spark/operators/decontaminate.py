"""Benchmark decontamination — flag/drop training documents that
overlap an evaluation corpus.

The standard LLM training-data hygiene step (GPT-3 appendix C / PaLM
style): a training document is *contaminated* when it shares any
word n-gram (n=13 by convention) with any benchmark/eval document.
The reference engine has no counterpart; this is part of the
training-pipeline extension layer (SURVEY §2 addendum).

Plan shape at 100 TB:

- Both corpora explode to (id, 64-bit gram hash) in one codegen'd
  projection each — document text never shuffles, join keys are
  ``(long, long)``.
- The eval side reduces to DISTINCT gram hashes; benchmarks are small
  (thousands of docs), so this side auto-broadcasts (hint available via
  ``broadcast_eval``) and contamination detection becomes a map-side
  LEFT SEMI probe of the training gram stream — zero shuffle of the
  training corpus.
- The contaminated-id set then left-joins back onto the training frame
  on ``id`` — one shuffle of ids, or none when AQE turns it into a
  broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.dedup import word_tokens


@register_stage("ngram_decontaminate")
def ngram_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    n: int = 13,
    mode: str = "flag",
    broadcast_eval: bool = True,
    impl: str = "arrow",
) -> DataFrame:
    """Mark (``mode="flag"``: adds boolean ``contaminated``), remove
    (``mode="drop"``), or just identify (``mode="ids"``: returns the
    distinct contaminated-id frame, no join-back) training rows sharing
    any word ``n``-gram with ``eval_df``.

    Overlap is computed on normalized text (lowercased, whitespace
    collapsed). Documents shorter than ``n`` words contribute their
    full token window as one "gram", matching the n-gram definition in
    ``dedup.word_ngrams_of`` — an exact short eval string still
    decontaminates its copies.

    Gram keys are 64-bit hashes; equal windows ⇔ equal grams either
    way, and only the (id, hash) streams ever shuffle. Two
    implementations, selected by ``impl``:

    - ``"arrow"`` (default): the batched poly64 rolling-hash kernel
      (operators/grams.word_ngram_hashes_poly) — every document in an
      Arrow batch is hashed in ONE numpy pass; measured ~10× the
      gram-stream throughput of the interpreted HOF lambda.
    - ``"expr"``: the pure-Catalyst form — ``xxhash64`` over the
      token-window ARRAY slice, with the token split materialized
      outside the lambda (no CSE inside higher-order functions). Keeps
      the whole plan JVM-side; the right choice when Python workers
      are unavailable.
    """
    if mode not in ("flag", "drop", "ids"):
        raise ValueError(f"mode must be 'flag', 'drop' or 'ids', got {mode!r}")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    eval_text = eval_text_col or text_col

    if impl == "arrow":
        from meds_transforms_spark.operators.grams import word_ngram_hashes_poly

        def gram_hashes(frame, col, keep_cols):
            if keep_cols:
                return word_ngram_hashes_poly(
                    frame, n=n, text_col=col, id_col=id_col
                )
            # eval side: no id needed — reuse the id slot with a
            # constant so the kernel's schema handling stays uniform.
            # When the caller asserts the eval corpus is small
            # (broadcast_eval=True, the benchmark contract), funnel it
            # into ONE kernel task: the kernel otherwise inherits the
            # eval scan's splits and pays one Python dispatch per split
            # for a handful of docs each — measured 0.44 s of
            # docs_decontaminate's 1.5 s at sf0.1 for a 52-doc eval
            # side. The repartition exchange moves only the eval text
            # (tiny); rescue_starved=False stops the kernel's
            # starvation guard from undoing it. broadcast_eval=False
            # is the large-eval-corpus escape hatch — there the funnel
            # would hash every eval gram in a single Python task
            # (bottleneck/OOM), so keep the scan's parallelism.
            eframe = frame.select(F.lit(0).alias("__eid"), F.col(col))
            if broadcast_eval:
                eframe = eframe.repartition(1)
            return word_ngram_hashes_poly(
                eframe,
                n=n,
                text_col=col,
                id_col="__eid",
                rescue_starved=not broadcast_eval,
            ).select("__gh")

    else:

        def gram_hashes(frame, col, keep_cols):
            cnt = F.greatest(F.size("__toks") - F.lit(n - 1), F.lit(1))
            # NULL/empty docs emit NO grams: xxhash64 over a NULL (or
            # empty) slice degenerates to the seed constant, so one
            # blank eval row would otherwise flag every blank training
            # doc as contaminated. A blank doc can't contaminate
            # anything.
            return frame.select(
                *keep_cols, word_tokens(F.col(col)).alias("__toks")
            ).filter(F.size("__toks") >= 1).select(
                *keep_cols,
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), cnt),
                            lambda i: F.xxhash64(F.slice("__toks", i, n)),
                        )
                    )
                ).alias("__gh"),
            )

    train_grams = gram_hashes(df, text_col, [F.col(id_col)])
    eval_hashes = gram_hashes(eval_df, eval_text, []).distinct()
    if broadcast_eval:
        eval_hashes = F.broadcast(eval_hashes)
    contaminated_ids = (
        train_grams.join(eval_hashes, "__gh", "left_semi").select(id_col).distinct()
    )
    if mode == "ids":
        # The contaminated-id set itself — no join-back, no text
        # rematerialization. The right output at scale: persist the id
        # set once, anti-join it into any number of downstream reads,
        # instead of rewriting the full corpus with a boolean column.
        return contaminated_ids
    contaminated = contaminated_ids.withColumn("__contam", F.lit(True))
    out = df.join(contaminated, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("__contam"), F.lit(False))
    ).drop("__contam")
    if mode == "drop":
        return out.filter(~F.col("contaminated")).drop("contaminated")
    return out
