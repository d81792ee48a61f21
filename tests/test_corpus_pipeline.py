"""Composed training-corpus pipeline."""

from __future__ import annotations


def test_prepare_training_corpus(spark):
    from meds_transforms_spark.plans.corpus import prepare_training_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and that is for sure "
        "a long enough document with many words in it to pass the filters "
    ) * 3
    rows = [
        (1, base),
        (2, base),                      # exact dup → dropped
        (3, base + "slightly changed"),  # near dup → dropped by LSH
        (4, "short"),                    # too few tokens → dropped
        (5, "word " * 40),               # low stopword/quality signal
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_training_corpus(
        docs, min_quality=0.3, min_tokens=10, near_dedup=True
    )
    got = {r.doc_id: r for r in out.collect()}
    assert 1 in got
    assert 2 not in got
    assert 3 not in got
    assert 4 not in got
    r = got[1]
    assert r.n_tokens > 30 and 0 <= r.quality <= 1 and r.lang_pred == "en"
    assert isinstance(r.fingerprint, int)
    assert 0 <= r.quality_bucket <= 9


def test_curate_corpus_ccnet_composition(spark):
    """The CCNet composition: gopher gate, per-lang terciles, winnow
    decontamination, deterministic sharding — checked end to end on a
    corpus with planted junk, a planted eval passage, and a contaminated
    training doc."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.plans.corpus import curate_corpus_ccnet

    fluent = (
        "the cat sat on the mat and the dog lay by the door while the "
        "sun set over the hill and the birds flew home to rest with the night "
    )
    eval_passage = (
        "this is the held out evaluation passage that must never appear "
        "in any training document at all"
    )
    rows = [(i, fluent + f"tail marker {i} " + fluent, "en") for i in range(12)]
    rows.append((50, fluent + eval_passage + " " + fluent, "en"))  # contaminated
    rows.append((60, "short junk", "en"))                          # gopher-fails
    rows.append((61, None, "en"))                                  # null text
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    probes = spark.createDataFrame(
        [(900, eval_passage)], "doc_id long, text string"
    )
    out = curate_corpus_ccnet(
        docs, probes,
        gopher_kwargs={"min_words": 20, "min_required_stopwords": 1},
        keep_buckets=("head", "middle", "tail"),  # keep all scored docs
        winnow_k=8, winnow_w=4, min_shared=2, max_df=None,
        n_shards=3, seed=1,
    )
    got = {r.doc_id: r for r in out.collect()}
    assert 50 not in got          # contaminated doc removed
    assert 60 not in got and 61 not in got  # junk and null gopher-failed
    assert set(got) == set(range(12))
    # sharding invariants on the survivors
    sizes = {}
    for r in got.values():
        sizes[r.shard_id] = sizes.get(r.shard_id, 0) + 1
        assert r.ppl_bucket in ("head", "middle", "tail")
    assert max(sizes.values()) - min(sizes.values()) <= 1
