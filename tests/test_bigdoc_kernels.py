"""Big-document kernel-path tests — the no-Spark half of the round-9
bigdoc gate (the Spark+oracle half is __spark_entry__.q_docs_bigdoc_*).

The driver corpus never pushes an Arrow batch past the 16 MB
``_MAX_SLICE_BYTES`` bound, so the sliced path (including the round-8
buffer-rebase fix for non-zero-offset slices) went ungated until round
9. These tests build the SAME ~38-50 MB periodic bigdoc batch the gate
queries build and assert:

- ``_batch_slices`` actually yields >= 2 slices at the DEFAULT bound
  (if the fixture ever shrinks below the bound, the gate is vacuous —
  fail loudly instead);
- sliced results are IDENTICAL to a single-slice pass (slicing
  invariance — the class of bug the rebase fix addressed);
- the scratch pool (round-9 page-fault fix) does not change results
  when a grown pool's stale contents are reused for a smaller batch;
- the winnow fingerprint stream respects the 2/(w+1) winnowing density
  bound on the PRE-distinct selection (the SCALING.md density check).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from meds_transforms_spark.operators import grams as G

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def bigdoc_batch():
    con = duckdb.connect()
    rows = con.sql(rf"""
      SELECT doc_id, regexp_replace(lower(trim(text)),'\s+',' ','g') AS v
      FROM read_parquet('{SF_DIR}/documents.parquet')
      WHERE doc_id % 83 = 0 AND doc_id < 600 AND text IS NOT NULL
        AND length(regexp_replace(lower(trim(text)),'\s+',' ','g')) >= 20
      ORDER BY doc_id""").fetchall()
    con.close()
    assert len(rows) >= 3
    texts = [((r[1] + " ") * 20000)[:-1] for r in rows]
    ids = pa.array([r[0] for r in rows], pa.int64())
    txt = pa.array(texts, pa.string())
    return pa.RecordBatch.from_arrays([ids, txt], names=["doc_id", "__txt"])


def _winnow_all(rb, max_bytes):
    """(doc_id, fp) set — doc POSITIONS are slice-local, so map them
    through the slice's id column exactly as the Spark wrapper's
    ``ids.take`` does."""
    out = set()
    nsl = 0
    for sl in G._batch_slices(rb, max_bytes):
        d, f = G._winnow_batch(sl.column(0), sl.column(1), 10, 8)
        ids = sl.column(0).to_numpy(zero_copy_only=False)
        out |= set(zip(ids[d].tolist(), f.tolist()))
        nsl += 1
    return out, nsl


def _minhash_all(rb, max_bytes):
    out = set()
    nsl = 0
    for sl in G._batch_slices(rb, max_bytes):
        d, b = G._minhash_batch(sl.column(1), 5, 32, 8)
        ids = sl.column(0).to_numpy(zero_copy_only=False)
        out |= set(zip(ids[d].tolist(), b.tolist()))
        nsl += 1
    return out, nsl


def test_default_bound_really_slices(bigdoc_batch):
    total = sum(len(t) for t in bigdoc_batch.column(1).to_pylist())
    assert total > G._MAX_SLICE_BYTES + (12 << 20), "fixture shrank below the bound"
    slices = list(G._batch_slices(bigdoc_batch, G._MAX_SLICE_BYTES))
    assert len(slices) >= 2
    # second+ slices have a non-zero Arrow offset — the rebase path
    assert any(sl.column(1).offset > 0 for sl in slices[1:])


def test_winnow_slicing_invariance(bigdoc_batch):
    sliced, nsl = _winnow_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert nsl >= 2
    whole, none = _winnow_all(bigdoc_batch, 1 << 62)
    assert none == 1
    assert sliced == whole and sliced


def test_minhash_slicing_invariance(bigdoc_batch):
    sliced, nsl = _minhash_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert nsl >= 2
    whole, none = _minhash_all(bigdoc_batch, 1 << 62)
    assert none == 1
    assert sliced == whole and sliced


@pytest.fixture(scope="module")
def small_batch(bigdoc_batch):
    """A few KB of the same documents at ragged lengths, plus docs
    shorter than the gram length and an empty one."""
    texts = [
        t[: 300 + 97 * i]
        for i, t in enumerate(bigdoc_batch.column(1).to_pylist())
    ] + ["abc", ""]
    ids = pa.array(range(len(texts)), pa.int64())
    return pa.RecordBatch.from_arrays(
        [ids, pa.array(texts, pa.string())], names=["doc_id", "__txt"]
    )


def _pool_bytes():
    return sum(buf.nbytes for buf in G._SCRATCH.values())


def test_scratch_pool_reuse_identical(bigdoc_batch, small_batch):
    """Pooled buffers are grow-only and handed out with stale contents:
    a small batch must give the same winnow and minhash results on a
    fresh pool and on one the bigdoc batch has grown and dirtied."""

    def small_results():
        return (
            _winnow_all(small_batch, G._MAX_SLICE_BYTES)[0],
            _minhash_all(small_batch, G._MAX_SLICE_BYTES)[0],
        )

    G._SCRATCH.clear()
    fresh = small_results()
    fresh_bytes = _pool_bytes()
    big_w, _ = _winnow_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    big_m, _ = _minhash_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert big_w and big_m
    assert _pool_bytes() > 100 * fresh_bytes  # the pool really grew
    reused = small_results()
    assert all(fresh)
    assert reused == fresh


def test_winnow_density_bound(bigdoc_batch):
    """SCALING.md density check: winnowing selects ~2/(w+1) of gram
    positions BEFORE the per-doc distinct. The RLE keep-mask count is
    exactly the pre-distinct selection size, bounded by the Schleimer
    et al. expectation with generous slack (periodic text compresses
    the DISTINCT set but not the positional density)."""
    sl = next(G._batch_slices(bigdoc_batch, G._MAX_SLICE_BYTES))
    k, w = 10, 8
    data, offs = G._flat_utf8(sl.column(1))
    n = len(data)
    lens = offs[1:] - offs[:-1]
    n_positions = int((lens - (k + w - 1) + 1).clip(min=0).sum())
    s, bpow = G._prefix_pooled(data)
    g = G._gram_hashes_pooled(s, bpow, n, k)
    mins = G._sliding_min_pooled(g, w)
    # pre-distinct density: count min-change positions over the stream
    changes = int(np.count_nonzero(mins[1:] != mins[:-1])) + 1
    density = changes / max(n_positions, 1)
    assert density < 2.0 * (2.0 / (w + 1))


def _wordgram_all(rb, max_bytes):
    out = set()
    nsl = 0
    for sl in G._batch_slices(rb, max_bytes):
        d, f = G._word_gram_batch(sl.column(1), 13)
        ids = sl.column(0).to_numpy(zero_copy_only=False)
        out |= set(zip(ids[d].tolist(), f.tolist()))
        nsl += 1
    return out, nsl


def _bigram_all(rb, max_bytes):
    out = set()
    nsl = 0
    for sl in G._batch_slices(rb, max_bytes):
        d, h1, h2, c = G._bigram_counts_batch(sl.column(1))
        ids = sl.column(0).to_numpy(zero_copy_only=False)
        out |= set(zip(ids[d].tolist(), h1.tolist(), h2.tolist(), c.tolist()))
        nsl += 1
    return out, nsl


def test_wordgram_slicing_invariance(bigdoc_batch):
    sliced, nsl = _wordgram_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert nsl >= 2
    whole, none = _wordgram_all(bigdoc_batch, 1 << 62)
    assert none == 1
    assert sliced == whole and sliced


def test_bigram_slicing_invariance(bigdoc_batch):
    sliced, nsl = _bigram_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert nsl >= 2
    whole, none = _bigram_all(bigdoc_batch, 1 << 62)
    assert none == 1
    assert sliced == whole and sliced


def _featbucket_all(rb, max_bytes):
    out = set()
    nsl = 0
    for sl in G._batch_slices(rb, max_bytes):
        d, b, c = G._feature_bucket_counts_batch(sl.column(1), 8192, True)
        ids = sl.column(0).to_numpy(zero_copy_only=False)
        out |= set(zip(ids[d].tolist(), b.tolist(), c.tolist()))
        nsl += 1
    return out, nsl


def test_feature_bucket_slicing_invariance(bigdoc_batch):
    sliced, nsl = _featbucket_all(bigdoc_batch, G._MAX_SLICE_BYTES)
    assert nsl >= 2
    whole, none = _featbucket_all(bigdoc_batch, 1 << 62)
    assert none == 1
    assert sliced == whole and sliced
