"""Incremental near-dedup against a persisted MinHash index.

Batch re-dedup of a whole corpus on every ingest is O(corpus) per
batch; production pipelines instead keep the LSH band-bucket table as
a durable INDEX and dedup each incoming batch against it:

1. bucket the new batch (``dedup.lsh_band_buckets`` — the same
   relational one-permutation MinHash as the batch path, so a doc
   collides with the index iff it would have collided in a full-corpus
   run with identical parameters);
2. one equi-join on the 64-bit bucket key flags new docs that share a
   band with any indexed doc — the new-batch side is small, the index
   side is a (id, bucket) long table; AQE broadcasts the batch
   buckets, so the index is probed map-side and never shuffled. For a
   standing deployment, save the index with ``saveAsTable`` bucketed
   by ``__bucket`` and even that probe becomes co-located;
3. the kept docs' ``build_minhash_index`` rows are the index delta —
   append them and the next batch dedups against corpus + this batch.

Index parameters (num_hashes/bands/shingle_k/hash_fn) are stored next
to the saved index; pass the loaded dict as ``index_params=`` and the
probe operators adopt it AND refuse explicit overrides that disagree —
mixing parameters silently produces disjoint bucket spaces, i.e. no
matches, the classic operational footgun this module exists to
prevent.

The reference engine has no incremental plane; this extends the dedup
suite (dedup.py, components.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.dedup import lsh_band_buckets

_DEFAULT_PARAMS = dict(num_hashes=32, bands=8, shingle_k=5, hash_fn="poly64")


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **params,
) -> DataFrame:
    """(id, __bucket) index rows for a corpus — just the band-bucket
    table, kept long-keyed and append-friendly."""
    p = {**_DEFAULT_PARAMS, **params}
    return lsh_band_buckets(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        shingle_k=p["shingle_k"],
        hash_fn=p["hash_fn"],
    )


def save_minhash_index(index: DataFrame, path: str, **params) -> None:
    """Write index rows + a params sidecar (validated on load)."""
    p = {**_DEFAULT_PARAMS, **params}
    index.write.mode("overwrite").parquet(os.path.join(path, "buckets"))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump(p, f)


def load_minhash_index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(os.path.join(path, "params.json")) as f:
        params = json.load(f)
    return spark.read.parquet(os.path.join(path, "buckets")), params


def _effective_params(index_params: dict | None, overrides: dict) -> dict:
    """Resolve probe parameters: defaults ← index sidecar ← explicit
    overrides, refusing overrides that contradict the sidecar."""
    if index_params:
        clash = {
            k: (index_params[k], overrides[k])
            for k in overrides
            if k in index_params and index_params[k] != overrides[k]
        }
        if clash:
            raise ValueError(
                f"parameters disagree with the index's build parameters "
                f"(stored, given): {clash} — probing with mismatched "
                f"MinHash parameters yields a disjoint bucket space "
                f"and silently matches nothing"
            )
    return {**_DEFAULT_PARAMS, **(index_params or {}), **overrides}


@register_stage("dedup_against_index")
def dedup_against_index(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "flag",
    index_params: dict | None = None,
    **params,
) -> DataFrame:
    """Mark (``mode="flag"``: boolean ``dup_of_corpus``) or remove
    (``mode="drop"``) new-batch docs sharing any LSH band bucket with
    the index. Parameters MUST match the index's build parameters —
    pass the dict returned by :func:`load_minhash_index` as
    ``index_params`` (adopted automatically; explicit overrides that
    disagree with it raise)."""
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    params = _effective_params(index_params, params)
    new_buckets = build_minhash_index(df, text_col, id_col, **params)
    hit_ids = (
        new_buckets.join(
            index.select("__bucket").distinct(), "__bucket", "left_semi"
        )
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    out = df.join(hit_ids, id_col, "left").withColumn(
        "dup_of_corpus", F.coalesce(F.col("__hit"), F.lit(False))
    ).drop("__hit")
    if mode == "drop":
        return out.filter(~F.col("dup_of_corpus")).drop("dup_of_corpus")
    return out

