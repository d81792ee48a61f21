"""operators/grams — the Arrow-batched poly64 rolling-hash kernels.

The batch kernels are pinned against scalar pure-Python references
(same normalization as Spark's _normalized on ASCII), against the
Catalyst HOF implementations at the operator level, and against the
DuckDB list_reduce fold the oracles replay.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pytest

from meds_transforms_spark.operators.grams import (
    POLY_BASE,
    _word_gram_batch,
    _winnow_batch,
    poly64,
)

TEXTS = [
    "The quick brown fox jumps over the lazy dog again and again and again",
    "short",
    "",
    " ",
    "a b",
    "x" * 200,
    "hello world " * 30,
    "\tleading tab and trailing\t",
    "one",
    "ab cd ef gh ij kl mn op qr st uv wx yz " * 3,
]


def _norm(t: str) -> str:
    # ASCII mirror of operators/dedup._normalized (trim strips spaces
    # only, then lower, then \s+ -> ' ')
    return re.sub(r"\s+", " ", t.strip(" ").lower())


def _ref_winnow(t: str, k: int, w: int) -> set[int]:
    b = _norm(t).encode()
    n = len(b)
    if n < k:
        return {poly64(b)}
    g = [poly64(b[i : i + k]) for i in range(n - k + 1)]
    if len(g) < w:
        return {min(g)}
    return {min(g[i : i + w]) for i in range(len(g) - w + 1)}


def _ref_wordgrams(t: str, n: int) -> set[int]:
    toks = [x for x in _norm(t).split(" ") if x]
    if not toks:
        return set()
    if len(toks) < n:
        return {poly64(" ".join(toks).encode())}
    return {poly64(" ".join(toks[i : i + n]).encode()) for i in range(len(toks) - n + 1)}


def _collect(doc_pos, fps):
    got: dict[int, set[int]] = {}
    for d, f in zip(doc_pos, fps):
        got.setdefault(int(d), set()).add(int(f) % (1 << 64))
    return got


@pytest.mark.parametrize("k,w", [(10, 8), (5, 4), (3, 1), (10, 20)])
def test_winnow_batch_matches_scalar_reference(k, w):
    arr = pa.array([_norm(t) for t in TEXTS], type=pa.string())
    got = _collect(*_winnow_batch(pa.array(range(len(TEXTS))), arr, k, w))
    for i, t in enumerate(TEXTS):
        assert got.get(i, set()) == _ref_winnow(t, k, w), (k, w, i, t[:30])


@pytest.mark.parametrize("n", [13, 3, 1])
def test_word_gram_batch_matches_scalar_reference(n):
    arr = pa.array([_norm(t) for t in TEXTS], type=pa.string())
    got = _collect(*_word_gram_batch(arr, n))
    for i, t in enumerate(TEXTS):
        assert got.get(i, set()) == _ref_wordgrams(t, n), (n, i, t[:30])


def test_winnow_batch_respects_array_offset():
    """Sliced (non-zero-offset) Arrow arrays must read the right
    buffer window — the classic zero-copy bug class."""
    arr = pa.array([_norm(t) for t in TEXTS], type=pa.string())
    ids = pa.array(range(len(TEXTS)))
    got = _collect(*_winnow_batch(ids.slice(2, 6), arr.slice(2, 6), 5, 4))
    for j, i in enumerate(range(2, 8)):
        assert got.get(j, set()) == _ref_winnow(TEXTS[i], 5, 4)


def test_poly64_matches_duckdb_fold():
    """The oracle replay (list_reduce HUGEINT fold) computes the
    identical hash — the cross-engine contract behind the poly64
    winnow oracles."""
    import duckdb

    con = duckdb.connect()
    for g in ["hello-spark", "a", "", "the quick brown fox"]:
        got = con.execute(
            r"""
            SELECT CASE WHEN len(g) = 0 THEN 0::HUGEINT
                   ELSE list_reduce(
                     list_transform(range(1, len(g) + 1),
                       j -> CAST(ascii(substr(g, CAST(j AS BIGINT), 1)) AS HUGEINT)),
                     (a, x) -> (a * ? + x) % 18446744073709551616::HUGEINT)
                   END
            FROM (SELECT ? AS g)
            """,
            [POLY_BASE, g],
        ).fetchone()[0]
        assert int(got) == poly64(g.encode()), g


def test_winnow_poly_operator_invariant(spark):
    """Spark-level winnow guarantee on the poly64 path: two docs
    sharing a substring of length >= w + k - 1 share a fingerprint;
    and the operator output equals the batch kernel's."""
    from meds_transforms_spark.operators.winnow import winnow_fingerprints

    shared = "this exact passage is long enough to guarantee overlap"
    docs = spark.createDataFrame(
        [
            (1, f"prefix junk {shared} more junk"),
            (2, f"{shared} totally different tail content here"),
            (3, "unrelated text with nothing in common at all"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=10, w=8, hash_fn="poly64")
    by_doc: dict[int, set[int]] = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert 4 not in by_doc  # NULL text emits nothing
    for i, t in [(1, f"prefix junk {shared} more junk"),
                 (2, f"{shared} totally different tail content here"),
                 (3, "unrelated text with nothing in common at all")]:
        exp = {v - (1 << 64) if v >= (1 << 63) else v for v in _ref_winnow(t, 10, 8)}
        assert by_doc[i] == exp


def test_decontaminate_arrow_matches_expr(spark):
    """ngram_decontaminate impl='arrow' flags the identical doc set as
    the pure-Catalyst impl='expr' (hashes differ, overlap does not)."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.decontaminate import ngram_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter("doc_id % 7 = 1").select(F.col("text"))
    a = {r.doc_id: r.contaminated
         for r in ngram_decontaminate(docs, ev, n=13, impl="arrow").collect()}
    e = {r.doc_id: r.contaminated
         for r in ngram_decontaminate(docs, ev, n=13, impl="expr").collect()}
    assert a == e and any(a.values())


def test_minhash_batch_matches_scalar_reference():
    """One-permutation MinHash band buckets: the batched kernel's
    (slot-min, band-fold) pipeline pinned against a scalar reference."""
    from meds_transforms_spark.operators.grams import _minhash_batch

    M = 1 << 64

    def ref_buckets(t, k, H, bands):
        b = _norm(t).encode()
        r = H // bands
        grams = (
            [b[i : i + k] for i in range(len(b) - k + 1)] if len(b) >= k else [b]
        )
        slots: dict[int, int] = {}
        for g in grams:
            u = poly64(g)
            slots[u % H] = min(slots.get(u % H, u), u)
        out = set()
        for band in range(bands):
            pairs = [(sl, mh) for sl, mh in sorted(slots.items()) if sl // r == band]
            if not pairs:
                continue
            acc = band
            for sl, mh in pairs:
                acc = ((acc * POLY_BASE + sl) * POLY_BASE + mh) % M
            out.add(acc % M)
        return out

    arr = pa.array([_norm(t) for t in TEXTS], type=pa.string())
    for k, h, bands in [(5, 32, 8), (5, 16, 4), (10, 32, 8)]:
        dp, bk = _minhash_batch(arr, k, h, bands)
        got: dict[int, set[int]] = {}
        for d, u in zip(dp, bk):
            got.setdefault(int(d), set()).add(int(u) % M)
        for i, t in enumerate(TEXTS):
            assert got.get(i, set()) == ref_buckets(t, k, h, bands), (k, h, bands, i)


def test_minhash_poly_dedup_collapses_near_dups(spark):
    """Spark-level: poly64 bucketing collapses near-duplicates and the
    empty/identical-short-doc classes exactly like the relational path."""
    from meds_transforms_spark.operators.dedup import minhash_lsh_dedup

    body = ("the quick brown fox jumps over the lazy dog and keeps going "
            "for quite a while longer with many shared shingles ") * 3
    docs = spark.createDataFrame(
        [
            (1, body),
            (2, body + " tiny tail difference"),
            (3, "completely unrelated text about something else entirely here"),
            (4, ""),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in minhash_lsh_dedup(docs, hash_fn="poly64").collect()}
    assert 1 in kept and 2 not in kept  # near-dups collapse to min id
    assert 3 in kept                    # unrelated survives
    assert 4 in kept and 5 not in kept  # identical empties collapse
    assert 6 in kept                    # NULL text passes through


def test_jaccard_pairs_arrow_matches_expr(spark):
    """ngram_jaccard_pairs impl='arrow' (hash gram stream) produces the
    identical pair set and jaccard values as the gram-string form."""
    from meds_transforms_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(n=3, threshold=0.2, use_lsh_candidates=False)
    a = {(r.id_a, r.id_b): round(r.jaccard, 9)
         for r in ngram_jaccard_pairs(docs, impl="arrow", **kw).collect()}
    e = {(r.id_a, r.id_b): round(r.jaccard, 9)
         for r in ngram_jaccard_pairs(docs, impl="expr", **kw).collect()}
    assert a == e and a


def test_kernel_parallelism_rescues_starved_input(spark, monkeypatch, tmp_path):
    """_with_kernel_parallelism repartitions only SEVERELY starved
    inputs (n_parts·4 <= target) and leaves healthy ones untouched
    (repartitioning a 15-split input was a consistent loss at 500k
    docs; a 1-split input's single-threaded kernel is the rescue case).
    The target is SIZE-AWARE (ceil(estimated bytes /
    _KERNEL_TASK_BYTES), capped at cores), so a tiny starved input is
    left alone instead of fanning out the whole Python worker pool for
    milliseconds of kernel compute."""
    from meds_transforms_spark.operators import grams
    from meds_transforms_spark.operators.grams import (
        _with_kernel_parallelism,
        winnow_fingerprints_poly,
    )

    cores = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some text") for i in range(64)],
        "doc_id long, text string",
    )
    starved = docs.repartition(1)
    healthy = docs.repartition(cores)
    # Default task-bytes (4 MB): a KB-sized SIZED input (parquet scan —
    # planner stats know file bytes) justifies ONE task — no rescue,
    # regardless of starvation. The python-local frame has UNKNOWN
    # stats (Long.Max) and keeps the flat-cores target below.
    pq = str(tmp_path / "tiny.parquet")
    docs.coalesce(1).write.parquet(pq)
    tiny_scan = spark.read.parquet(pq)
    n_tiny = tiny_scan.rdd.getNumPartitions()
    assert n_tiny < cores  # starved
    assert _with_kernel_parallelism(tiny_scan).rdd.getNumPartitions() == n_tiny
    # size target between n and cores: rescue lands ON the size target
    # (bytes-justified tasks), not on flat cores.
    est = int(tiny_scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if cores >= 8 and est >= 8:
        monkeypatch.setattr(grams, "_KERNEL_TASK_BYTES", -(-est // (cores // 2)))
        got = _with_kernel_parallelism(tiny_scan).rdd.getNumPartitions()
        assert 4 <= got <= cores // 2, got
    # 1 byte/task => size target == cores.
    monkeypatch.setattr(grams, "_KERNEL_TASK_BYTES", 1)
    assert _with_kernel_parallelism(starved).rdd.getNumPartitions() == cores
    assert _with_kernel_parallelism(healthy).rdd.getNumPartitions() == cores
    # a moderately-split input (half of cores) is NOT rescued
    if cores >= 4:
        mid = docs.repartition(cores // 2)
        assert _with_kernel_parallelism(mid).rdd.getNumPartitions() == cores // 2
    # results are partitioning-invariant through the rescue path
    rescued = winnow_fingerprints_poly(starved)
    kept = winnow_fingerprints_poly(starved, rescue_starved=False)
    assert kept.rdd.getNumPartitions() == 1
    if cores >= 4:
        assert rescued.rdd.getNumPartitions() == cores
    a = {(r.doc_id, r.fp) for r in rescued.collect()}
    b = {(r.doc_id, r.fp) for r in kept.collect()}
    assert a == b and a


def test_default_hash_fn_is_poly64_kernel(spark):
    """Round-8 default flip: minhash_lsh_dedup / winnow_fingerprints /
    lsh_band_buckets with NO hash_fn argument route to the Arrow poly64
    kernel (identical results to the explicit form; the one-shot
    behavior-change notice is pre-absorbed by conftest's autouse
    fixture)."""
    from meds_transforms_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_lsh_dedup,
    )
    from meds_transforms_spark.operators.winnow import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d_def = {r.doc_id for r in minhash_lsh_dedup(docs).collect()}
    d_exp = {r.doc_id for r in minhash_lsh_dedup(docs, hash_fn="poly64").collect()}
    assert d_def == d_exp
    b_def = {(r.doc_id, r["__bucket"]) for r in lsh_band_buckets(docs).collect()}
    b_exp = {
        (r.doc_id, r["__bucket"])
        for r in lsh_band_buckets(docs, hash_fn="poly64").collect()
    }
    assert b_def == b_exp and b_def
    f_def = {(r.doc_id, r.fp) for r in winnow_fingerprints(docs).collect()}
    f_exp = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(docs, hash_fn="poly64").collect()
    }
    assert f_def == f_exp and f_def


def test_flat_utf8_rebases_sliced_buffers():
    """Arrow slices are zero-copy views whose offsets point into the
    parent buffer. _flat_utf8 must return exactly the slice's byte
    WINDOW (rebased offsets), or every _batch_slices window pays a
    prefix pass over the WHOLE batch — O(n_slices x batch) redundant
    work on any corpus whose docs push batches past the 16 MB slice
    bound (round-8 fix)."""
    import numpy as np
    import pyarrow as pa

    from meds_transforms_spark.operators.grams import (
        _flat_utf8,
        _minhash_batch,
        _word_gram_batch,
        _winnow_batch,
    )

    docs = pa.array([f"document number {i} filler text body" * 3 for i in range(500)])
    sl = docs.slice(100, 200)
    data, offs = _flat_utf8(sl)
    assert offs[0] == 0
    assert len(data) == int(offs[-1])           # exactly the window...
    full, _ = _flat_utf8(docs)
    assert len(data) < len(full) / 2            # ...not the parent buffer

    cp = pa.array(sl.to_pylist())               # compacted copy
    for a, b in zip(_minhash_batch(sl, 5, 32, 8), _minhash_batch(cp, 5, 32, 8)):
        assert np.array_equal(a, b)
    ids = pa.array(range(200))
    for a, b in zip(_winnow_batch(ids, sl, 6, 4), _winnow_batch(ids, cp, 6, 4)):
        assert np.array_equal(a, b)
    for a, b in zip(_word_gram_batch(sl, 5), _word_gram_batch(cp, 5)):
        assert np.array_equal(a, b)
