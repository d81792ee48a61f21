"""Incremental MinHash-index dedup tests."""

from __future__ import annotations


BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a long and winding tune about distributed systems and parquet files"
)
FRESH = (
    "completely different content about cooking pasta with garlic "
    "butter and a generous handful of freshly grated parmesan cheese"
)
OTHER = (
    "yet another unrelated document discussing alpine hiking routes "
    "snow conditions and the correct layering of merino wool clothing"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_flag_against_index(spark):
    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )

    corpus = _docs(spark, [(1, BASE), (2, OTHER)])
    index = build_minhash_index(corpus)
    batch = _docs(
        spark,
        [
            (100, BASE + " tiny suffix change"),  # near-dup of corpus doc 1
            (101, FRESH),
        ],
    )
    out = {r.doc_id: r.dup_of_corpus for r in dedup_against_index(batch, index).collect()}
    assert out == {100: True, 101: False}
    dropped = dedup_against_index(batch, index, mode="drop")
    assert [r.doc_id for r in dropped.collect()] == [101]
    assert "dup_of_corpus" not in dropped.columns


def test_save_load_roundtrip_params(spark, tmp_path):
    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        load_minhash_index,
        save_minhash_index,
    )

    corpus = _docs(spark, [(1, BASE)])
    idx = build_minhash_index(corpus, num_hashes=16, bands=4)
    save_minhash_index(idx, str(tmp_path / "idx"), num_hashes=16, bands=4)
    loaded, params = load_minhash_index(spark, str(tmp_path / "idx"))
    assert params["num_hashes"] == 16 and params["bands"] == 4
    assert sorted((r.doc_id, r["__bucket"]) for r in loaded.collect()) == sorted(
        (r.doc_id, r["__bucket"]) for r in idx.collect()
    )


def test_param_mismatch_raises_and_sidecar_adopted(spark, tmp_path):
    import pytest

    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
        load_minhash_index,
        save_minhash_index,
    )

    corpus = _docs(spark, [(1, BASE)])
    idx = build_minhash_index(corpus, num_hashes=16, bands=4)
    save_minhash_index(idx, str(tmp_path / "idx"), num_hashes=16, bands=4)
    loaded, params = load_minhash_index(spark, str(tmp_path / "idx"))
    batch = _docs(spark, [(9, BASE + " x")])
    # sidecar adopted: no explicit params needed, match found
    out = dedup_against_index(batch, loaded, index_params=params).collect()
    assert out[0].dup_of_corpus is True
    # contradictory explicit override refuses to run
    with pytest.raises(ValueError, match="disagree"):
        dedup_against_index(batch, loaded, index_params=params, num_hashes=32)


def test_null_text_never_collides_with_index(spark):
    """Regression: NULL-text docs hashed to one shared degenerate
    bucket, so an indexed NULL doc flagged every later NULL doc as a
    corpus duplicate — while a full-corpus minhash run keeps them."""
    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )

    batch1 = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(3, None), (4, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    idx = build_minhash_index(batch1)
    out = {r.doc_id: r.dup_of_corpus for r in dedup_against_index(batch2, idx).collect()}
    assert out[3] is False or out[3] is None or out[3] == 0  # NULL doc never collides
    assert out[4]  # the real duplicate still does


def test_minhash_index_poly64_roundtrip(spark, tmp_path):
    """The durable index works end-to-end on the Arrow poly64 kernel:
    params persist with the index, reload probes with the SAME hash,
    and a near-dup batch doc is flagged against the corpus."""
    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
        load_minhash_index,
        save_minhash_index,
    )

    body = ("shared passage that is long enough to produce many common "
            "shingles across corpus and batch documents ") * 3
    corpus = spark.createDataFrame(
        [(1, body), (2, "totally different corpus content here")],
        "doc_id long, text string",
    )
    idx = build_minhash_index(corpus, hash_fn="poly64")
    path = str(tmp_path / "idx")
    save_minhash_index(idx, path, hash_fn="poly64")
    idx2, params = load_minhash_index(spark, path)
    assert params["hash_fn"] == "poly64"
    batch = spark.createDataFrame(
        [(10, body + " with a tiny suffix"), (11, "fresh unseen text entirely")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.dup_of_corpus
           for r in dedup_against_index(batch, idx2, index_params=params).collect()}
    assert out[10] is True and out[11] is False
