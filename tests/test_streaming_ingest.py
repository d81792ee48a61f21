"""Projection-only operators run unchanged on Structured Streaming input."""

from __future__ import annotations


def test_stateless_text_operators_compose_on_streams(spark, tmp_path):
    """The projection-only operators (text stats, quality, URLs,
    classifier serving prep) are stream-compatible by construction —
    prove it by running a few through readStream."""
    from meds_transforms_spark.operators.text import text_stats, token_count
    from meds_transforms_spark.operators.urls import extract_urls

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "hello world see https://a.com/x"), (2, "two tokens")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = extract_urls(token_count(text_stats(stream)))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("stateless_text")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.doc_id: r for r in spark.sql("SELECT * FROM stateless_text").collect()}
        assert rows[1].n_tokens == 4
        assert rows[1].domains == ["a.com"]
        assert rows[2].urls == []
    finally:
        q.stop()


def test_quality_and_dsir_serving_on_streams(spark, tmp_path):
    """gopher_quality_filter and projection-mode DSIR serving are pure
    projections — the curation scoring path runs on a live ingest feed
    unchanged (dsir_score's relational form needs a per-doc aggregation,
    so streams use dsir_score_projection: the model inlined as one
    array literal)."""
    from meds_transforms_spark.operators.dsir import (
        dsir_score_projection,
        fit_dsir_model,
    )
    from meds_transforms_spark.operators.text import gopher_quality_filter

    fit_src = spark.createDataFrame(
        [(1, "tgt", "alpha beta gamma"), (2, "raw", "omega sigma tau")],
        "doc_id long, source string, text string",
    )
    model = fit_dsir_model(fit_src, "source = 'tgt'", n_buckets=64)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "alpha beta beta"), (11, "omega sigma")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = dsir_score_projection(
        gopher_quality_filter(stream, min_words=2, min_required_stopwords=0),
        model,
        n_buckets=64,
    ).select("doc_id", "gopher_pass", "rule_word_count", "dsir_logweight")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("quality_dsir_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.doc_id: r for r in spark.sql("SELECT * FROM quality_dsir_stream").collect()}
        assert rows[10].rule_word_count and rows[11].rule_word_count
        assert rows[10].dsir_logweight > rows[11].dsir_logweight  # target vocab wins
    finally:
        q.stop()
