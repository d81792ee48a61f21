"""Arrow-batched rolling-hash gram machinery — the vectorized escape
from interpreted per-gram Catalyst lambdas.

Catalyst higher-order functions run INTERPRETED (CodegenFallback): one
``transform(sequence(1, n), i -> hash(substr(txt, i, k)))`` evaluation
costs ~µs per gram in expression-tree walking — measured as ~4 s of
``docs_winnow_overlap``'s 5.9 s at a mere 1.4M grams (SCALING.md).
This module computes the same gram streams with a Rabin-Karp
POLYNOMIAL rolling hash over UTF-8 bytes in ONE batched numpy pass per
Arrow batch: every document in the batch is concatenated into a single
byte array, one prefix pass yields every substring hash as

    hash(bytes[a:b)) = B^b · (S[b] − S[a])   (mod 2^64)

where ``S[i] = Σ_{j<i} B^{−(j+1)}·byte_j`` (B is odd, hence invertible
mod 2^64), so char-gram hashes, word-gram hashes, AND winnow window
minima all fall out of vectorized index arithmetic — no per-gram
Python, no per-gram interpreted expression.

The hash (``poly64``: h = fold(h·B + byte) mod 2^64, B = the 64-bit
FNV prime) is deliberately engine-reproducible: the DuckDB oracles
replay it exactly with
``list_reduce(codes, (a, x) -> (a·B + x) % 2^64)`` in HUGEINT
arithmetic, so the full winnowed-fingerprint pipeline stays
bitwise-checkable end to end (see ``__spark_entry__._winnow_fps_sql``).

Contract differences from the HOF/md5_60 path (both documented, both
irrelevant for the winnowing GUARANTEE, which only needs a
deterministic hash):

- gram positions are UTF-8 **byte** offsets, not char offsets — on
  non-ASCII text the gram set differs from ``substr``-based grams (on
  ASCII they are identical, and equal substrings hash equal either
  way, so shared-substring detection is unaffected);
- the empty normalized document hashes to 0.

Scale shape is unchanged from the HOF path: normalization runs in
whole-stage codegen BEFORE ``mapInArrow`` (one shared definition with
the dedup family), text never shuffles, and only the winnowed
``(id, long)`` fingerprints (density ≈ 2/(w+1)) hit an exchange.
Per-batch memory is bounded by slicing each Arrow batch to
≤ ``_MAX_SLICE_BYTES`` of text before the numpy pass.

Reference anchor: the winnowing semantics mirror
operators/winnow.winnow_fingerprints (Schleimer et al., SIGMOD 2003);
the word-n-gram semantics mirror operators/dedup.word_ngrams_of
(grams of fewer-than-n-token docs collapse to the full token window).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.dedup import _normalized


def _with_kernel_parallelism(base: DataFrame) -> DataFrame:
    """Repartition the kernel's input only when it is severely starved:
    ``n_splits * 4 <= target``, where the target is the task count the
    input's size justifies (:func:`_size_aware_task_count`).

    ``mapInArrow`` inherits its input's partitioning, so an
    AQE-coalesced upstream exchange or a ``coalesce(1)`` caps the one
    CPU-bound stage at 1-2 tasks. Scans rarely need it: Spark already
    sizes local parquet splits toward the core count, and at 500k docs
    repartitioning a 15-split input to 32 cost 30-80% more wall time
    (one more exchange, twice the Python workers, no CPU gained).
    Sizing the target by bytes keeps a tiny corpus from spinning up
    the whole worker pool for milliseconds of compute (a 584 KB corpus
    fanned out to 32 tasks ran minhash 2.1x slower at 32 cores).

    The split count must be read without running a job: ``.rdd`` on a
    plan with an exchange makes AQE run the upstream stages now and
    again at the real action. So it comes from the pre-AQE physical
    plan (known for ``repartition``/``coalesce`` roots) or, for a pure
    scan/project/filter plan, from ``.rdd``, which only lists file
    splits. A shuffle-rooted plan with an unknown count is left alone.
    """
    if base.isStreaming:  # no .rdd on a stream
        return base
    cores = base.sparkSession.sparkContext.defaultParallelism
    target = _size_aware_task_count(base, cores)
    n = _static_partition_count(base)
    if n is None:
        if not _is_scan_rooted(base):
            return base
        try:
            n = base.rdd.getNumPartitions()
        except Exception:  # exotic plans that refuse RDD conversion: skip
            return base
    if 0 < n * 4 <= target:
        return base.repartition(target)
    return base


_KERNEL_TASK_BYTES = 4 << 20  # ≥ ~20 ms kernel compute per task


def _size_aware_task_count(df: DataFrame, cores: int) -> int:
    """ceil(estimated input bytes / ``_KERNEL_TASK_BYTES``), capped at
    ``cores``, from the optimized plan's statistics (job-free; file
    bytes for scans). Unknown estimates (Catalyst's Long.Max default
    for unsized relations) give ``cores``."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cores
    if est < 0 or est > (1 << 60):  # unknown / defaulted estimate
        return cores
    return max(1, min(cores, -(-est // _KERNEL_TASK_BYTES)))


def _static_partition_count(df: DataFrame) -> int | None:
    """Partition count readable from the pre-AQE physical plan without
    executing anything — non-None exactly when the root fixes its own
    partitioning (repartition/coalesce/single-partition roots).
    Scans and shuffle consumers report UnknownPartitioning(0) → None."""
    try:
        n = int(
            df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
        )
    except Exception:
        return None
    return n if n > 0 else None


_SCAN_SAFE_NODES = frozenset(
    {"Project", "Filter", "Relation", "LogicalRelation", "SubqueryAlias",
     "LocalRelation", "View", "GlobalLimit", "LocalLimit"}
)


def _is_scan_rooted(df: DataFrame) -> bool:
    """True when the optimized logical plan contains no
    shuffle-introducing operator — i.e. ``.rdd`` on it computes file
    splits without running jobs. Conservative allowlist: any node name
    outside it (Join, Aggregate, Window, Sort, Repartition, …) returns
    False."""
    import re

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        m = re.match(r"^[-+: ]*([A-Za-z]+)", line)
        if m and m.group(1) not in _SCAN_SAFE_NODES:
            return False
    return True


POLY_BASE = 1099511628211  # FNV-1a 64 prime; odd => invertible mod 2^64
POLY_BASE_INV = pow(POLY_BASE, -1, 1 << 64)
_MOD = 1 << 64
_MAX_SLICE_BYTES = 16 << 20  # numpy working set per slice ≈ 6×16 MB


def poly64(data: bytes) -> int:
    """Reference scalar poly64 (tests + oracle documentation)."""
    h = 0
    for b in data:
        h = (h * POLY_BASE + b) % _MOD
    return h


def _flat_utf8(arr):
    """(data_bytes_uint64, offsets_int64) of a non-null Arrow string
    array — zero-copy views of the Arrow buffers."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    buffers = arr.buffers()
    offs = np.frombuffer(buffers[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    if buffers[2] is None:
        data = np.empty(0, dtype=np.uint8)
    else:
        data = np.frombuffer(buffers[2], dtype=np.uint8)
    # Arrow slices are zero-copy VIEWS over the parent's data buffer:
    # a slice's offsets point into the middle of the full buffer. Every
    # kernel runs its prefix pass over `data`, so returning the full
    # buffer makes each of _batch_slices' windows pay O(whole batch)
    # instead of O(window) — with the 16 MB slice bound, a 100 MB
    # batch (10k docs × ~10 KB, i.e. ordinary web documents) would do
    # 7× redundant prefix work. Rebase to exactly the slice's window
    # (numpy view, no copy) and shift the offsets to match.
    lo = int(offs[0]) if len(offs) else 0
    if lo or (len(offs) and int(offs[-1]) < len(data)):
        data = data[lo : int(offs[-1])]
        offs = offs - lo
    return data, offs


# ----------------------------------------------------------------------
# Per-worker scratch pool
# ----------------------------------------------------------------------
# Every fresh numpy allocation larger than glibc's dynamic mmap
# threshold (<= 32 MB) is served by mmap and RETURNED TO THE OS on
# free — so each slice of a big batch re-faults hundreds of MB of
# zero-filled pages. On hosts with slow first-touch faulting this
# dominates the kernels end-to-end: the 38 MB bigdoc batch spent ~80%
# of a 38 s winnow pass in page faults, and ~2 s with the pool
# (SCALING.md, round 9). The pool keeps one named, grow-only buffer
# per (name, dtype) per worker process, so steady-state kernel passes
# touch only warm pages.
#
# Peak pooled bytes per worker ≈ 70 × the largest text slice processed
# (all the n-sized temporaries below) — ~1.1 GB at the 16 MB
# _MAX_SLICE_BYTES bound, the same transient footprint fresh
# allocations would have, kept warm. Workers that only ever see small
# slices keep small pools.

_SCRATCH: dict = {}


def _hugepage_empty(n: int, dtype) -> np.ndarray:
    """Uninitialized array backed by an anonymous mmap advised
    MADV_HUGEPAGE. On hosts where transparent hugepages are in
    ``madvise`` mode and 4 KB first-touch faulting is slow (measured
    here: 12 s vs 0.23 s to touch 320 MB), this cuts the pool's
    cold-start cost ~50×. Falls back to np.empty when mmap/madvise is
    unavailable."""
    import mmap as _mmap

    nbytes = max(int(n) * np.dtype(dtype).itemsize, 1)
    try:
        mm = _mmap.mmap(-1, nbytes)
        mm.madvise(_mmap.MADV_HUGEPAGE)
    except (AttributeError, OSError, ValueError, OverflowError):
        return np.empty(n, dtype=dtype)
    return np.frombuffer(mm, dtype=dtype, count=n)


def _scr(name: str, n: int, dtype) -> np.ndarray:
    """Length-``n`` view of the named per-worker reusable buffer
    (grow-only; contents UNDEFINED — callers must fully overwrite)."""
    key = (name, np.dtype(dtype).str)
    buf = _SCRATCH.get(key)
    if buf is None or buf.shape[0] < n:
        buf = _hugepage_empty(n, dtype)
        _SCRATCH[key] = buf
    return buf[:n]


def _prefix_pooled(data: np.ndarray):
    """(S, bpow) prefix arrays over byte stream ``data`` such that
    hash(data[a:b]) == bpow[b] * (S[b] - S[a]) mod 2^64, computed into
    pooled buffers: zero fresh large allocations, and no widened copy
    of the byte stream (``data`` stays uint8; the one place it enters the
    arithmetic upcasts inside the ufunc inner loop). The returned
    views alias the ``s``/``bpow`` pool entries; callers must not
    interleave with another pooled prefix computation."""
    n = len(data)
    bpow = _scr("bpow", n + 1, np.uint64)
    binv = _scr("binv", n + 1, np.uint64)
    s = _scr("s", n + 1, np.uint64)
    with np.errstate(over="ignore"):
        bpow[0] = 1
        s[0] = 0
        if n:
            bpow[1:].fill(POLY_BASE)
            np.cumprod(bpow[1:], out=bpow[1:])
            binv[0] = 1
            binv[1:].fill(POLY_BASE_INV)
            np.cumprod(binv[1:], out=binv[1:])
            np.multiply(binv[1:], data, out=binv[1:])
            np.cumsum(binv[1:], out=s[1:])
    return s, bpow


def _gram_hashes_pooled(s: np.ndarray, bpow: np.ndarray, n: int, k: int):
    """hash(bytes[i:i+k)) for every position i in [0, n-k] — the
    all-positions form of :func:`_slice_hashes` computed from contiguous
    VIEWS (no 8-byte-per-gram index arrays) into the pooled ``g``."""
    ng = n - k + 1
    g = _scr("g", ng, np.uint64)
    with np.errstate(over="ignore"):
        np.subtract(s[k:], s[:ng], out=g)
        np.multiply(g, bpow[k:], out=g)
    return g


def _sliding_min_pooled(g: np.ndarray, w: int) -> np.ndarray:
    """min(g[i:i+w]) for each valid i, via O(log w) pairwise-minimum
    doubling passes (sparse-table style) into two ping-pong pooled
    buffers — measured ~8× the (n, w) strided ``min(axis=1)`` reduce at
    w=8 on 20M grams, with no fresh allocation."""
    out_len = len(g) - w + 1
    if out_len <= 0:
        return g[:0]
    if w == 1:
        return g
    cur, span, which = g, 1, 0
    while span * 2 <= w:
        m = len(cur) - span
        buf = _scr(f"wmin{which}", m, np.uint64)
        np.minimum(cur[:m], cur[span:span + m], out=buf)
        cur, span, which = buf, span * 2, which ^ 1
    if span < w:
        rem = w - span
        buf = _scr(f"wmin{which}", out_len, np.uint64)
        np.minimum(cur[:out_len], cur[rem:rem + out_len], out=buf)
        cur = buf
    return cur[:out_len]


def _slice_hashes(s, bpow, starts, ends):
    """Vectorized hash(bytes[a:b)) for aligned start/end arrays."""
    with np.errstate(over="ignore"):
        return bpow[ends] * (s[ends] - s[starts])


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of arange(start_i, start_i + count_i) — the
    standard vectorized multi-range trick."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    rep = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
    return np.arange(total, dtype=np.int64) + rep


def _dedup_per_doc(doc_idx: np.ndarray, fps: np.ndarray):
    """Distinct (doc_idx, fp) pairs, vectorized via lexsort."""
    if len(doc_idx) == 0:
        return doc_idx, fps
    order = np.lexsort((fps, doc_idx))
    di, fp = doc_idx[order], fps[order]
    keep = np.empty(len(di), dtype=bool)
    keep[0] = True
    keep[1:] = (di[1:] != di[:-1]) | (fp[1:] != fp[:-1])
    return di[keep], fp[keep]


def _batch_slices(rb, max_bytes: int):
    """Split a record batch into row slices whose text payload is
    bounded, so the numpy working set stays O(max_bytes)."""
    import pyarrow.compute as pc

    n = rb.num_rows
    if n == 0:
        return
    sizes = pc.binary_length(rb.column(1)).to_numpy(zero_copy_only=False)
    sizes = np.nan_to_num(sizes.astype(np.float64), nan=0.0).astype(np.int64)
    cum = np.cumsum(sizes)
    lo = 0
    while lo < n:
        hi = int(np.searchsorted(cum, (cum[lo - 1] if lo else 0) + max_bytes)) + 1
        hi = max(hi, lo + 1)
        hi = min(hi, n)
        yield rb.slice(lo, hi - lo)
        lo = hi


def _winnow_batch(ids_arr, txt_arr, k: int, w: int):
    """(doc_positions, fp_uint64) winnowed fingerprints of one slice.

    All O(bytes) temporaries live in the per-worker scratch pool (see
    the pool note above) and the per-position work is pure views —
    fresh allocations are O(selected fingerprints) only. The class-1
    selection run-length-compresses the window-min stream (keep a
    position only where the min CHANGES or a doc's valid range starts)
    before the per-doc distinct sort: the winnowing density bound
    (~2/(w+1)) makes the sort input ~4× smaller with an identical
    distinct set."""
    data, offs = _flat_utf8(txt_arr)
    n = len(data)
    starts, ends = offs[:-1], offs[1:]
    lens = ends - starts

    out_docs, out_fps = [], []
    s, bpow = _prefix_pooled(data)

    # Class 1: full-window docs (ng >= w, i.e. len >= k + w - 1):
    # global gram hashes + global sliding min over views, then an
    # RLE-compressed per-doc selection (windows crossing a doc
    # boundary are never inside a valid range).
    full = np.flatnonzero(lens >= k + w - 1)
    if len(full) and n >= k:
        g = _gram_hashes_pooled(s, bpow, n, k)
        if len(g) >= w:
            mins = _sliding_min_pooled(g, w)
            m = len(mins)
            cnt = (lens[full] - (k + w - 1) + 1).astype(np.int64)
            vs = starts[full].astype(np.int64)
            ve = vs + cnt
            # valid[i] = i inside some doc's window-start range, via
            # +1/-1 boundary marks and a cumsum (ranges are disjoint)
            mark = _scr("mark", m + 1, np.int64)
            mark[:].fill(0)
            mark[vs] += 1
            mark[ve] -= 1
            np.cumsum(mark[:m], out=mark[:m])
            valid = _scr("validb", m, bool)
            np.greater(mark[:m], 0, out=valid)
            change = _scr("changeb", m, bool)
            change[0] = True
            np.not_equal(mins[1:], mins[:-1], out=change[1:])
            change[vs] = True
            np.logical_and(valid, change, out=valid)
            pos = np.flatnonzero(valid)
            if len(pos):
                out_fps.append(mins[pos])
                out_docs.append(
                    np.searchsorted(ends, pos, side="right").astype(np.int64)
                )

    # Class 2: at least one gram but a short window (k <= len < k+w-1):
    # a single fingerprint — the min over all ng grams.
    part = np.flatnonzero((lens >= k) & (lens < k + w - 1))
    if len(part):
        cnt = (lens[part] - k + 1).astype(np.int64)
        idx = _ranges(starts[part].astype(np.int64), cnt)
        g = _slice_hashes(s, bpow, idx, idx + k)
        seg_end = np.cumsum(cnt)
        mins = np.minimum.reduceat(g, np.concatenate(([0], seg_end[:-1])))
        out_docs.append(part)
        out_fps.append(mins)

    # Class 3: shorter than one gram (len < k, empty included): the
    # whole text is the single gram (empty -> 0).
    tiny = np.flatnonzero(lens < k)
    if len(tiny):
        out_docs.append(tiny)
        out_fps.append(
            _slice_hashes(
                s, bpow, starts[tiny].astype(np.int64), ends[tiny].astype(np.int64)
            )
        )

    if not out_docs:
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.uint64)
    return _dedup_per_doc(np.concatenate(out_docs), np.concatenate(out_fps))


@register_stage("winnow_fingerprints_poly")
def winnow_fingerprints_poly(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    rescue_starved: bool = True,
) -> DataFrame:
    """Winnowed ``(id_col, fp)`` fingerprints via the batched poly64
    rolling hash — drop-in for
    :func:`~meds_transforms_spark.operators.winnow.winnow_fingerprints`
    with ``hash_fn="poly64"`` (that wrapper routes here).

    Same selection semantics (full-window minima for long docs, the
    whole-gram-stream minimum for short docs, the whole text as a
    single gram below ``k`` bytes, per-doc distinct), same
    zero-shuffle plan shape; the per-gram hashing moves from an
    interpreted Catalyst lambda to one numpy pass per Arrow slice.
    ``rescue_starved=False`` opts out of the low-partition-count
    rescue for callers that deliberately feed few large batches
    (e.g. the big-document gate queries, which must exercise
    :func:`_batch_slices` on a >16 MB batch).
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints_poly: k and w must be >= 1")
    import pyarrow as pa

    from pyspark.sql import types as T

    id_type = df.select(id_col).schema[0].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("fp", T.LongType())]
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _normalized(F.col(text_col)).alias("__txt")
    )

    def fn(batches):
        for rb in batches:
            for sl in _batch_slices(rb, _MAX_SLICE_BYTES):
                doc_pos, fps = _winnow_batch(sl.column(0), sl.column(1), k, w)
                ids = sl.column(0)
                if isinstance(ids, pa.ChunkedArray):
                    ids = ids.combine_chunks()
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(doc_pos)),
                        pa.array(fps.view(np.int64)),
                    ],
                    names=[id_col, "fp"],
                )

    if rescue_starved:
        base = _with_kernel_parallelism(base)
    return base.mapInArrow(fn, schema=out_schema)


def _token_bounds(txt_arr):
    """Token boundary arrays of one normalized-text slice: returns
    ``(s, bpow, tok_starts, tok_ends, tok_counts, first_tok)`` where
    tokens are the maximal non-space byte runs of each document (the
    shared substrate of the word-gram and bigram kernels), or ``None``
    when the slice holds no tokens at all."""
    data, offs = _flat_utf8(txt_arr)
    s, bpow = _prefix_pooled(data)
    starts, ends = offs[:-1].astype(np.int64), offs[1:].astype(np.int64)
    n_docs = len(starts)

    # _normalized trims only ASCII spaces BEFORE the whitespace
    # collapse, so a doc that began/ended with a tab keeps exactly one
    # boundary space here; word_tokens drops the empty token it would
    # create — strip it so the token sets agree.
    nz = np.flatnonzero(ends > starts)
    if len(nz):
        starts = starts.copy()
        starts[nz] += data[starts[nz]] == 32
    nz = np.flatnonzero(ends > starts)
    if len(nz):
        ends = ends.copy()
        ends[nz] -= data[ends[nz] - 1] == 32

    # Token boundaries from space positions: interior spaces are single
    # by construction, so token starts are doc starts + (space+1),
    # token ends are spaces + doc ends.
    sp = np.flatnonzero(data == 32)
    doc_of_space = np.searchsorted(offs[1:], sp, side="right")
    inside = (sp >= starts[doc_of_space]) & (sp < ends[doc_of_space])
    sp, doc_of_space = sp[inside], doc_of_space[inside]
    spaces_per_doc = np.bincount(doc_of_space, minlength=n_docs)
    lens = ends - starts
    tok_counts = np.where(lens > 0, spaces_per_doc + 1, 0)

    # Per-doc token start/end arrays, flattened:
    # starts: [doc_start, sp+1 ...]; ends: [sp ..., doc_end]
    tot = int(tok_counts.sum())
    if tot == 0:
        return None
    tok_starts = np.empty(tot, dtype=np.int64)
    tok_ends = np.empty(tot, dtype=np.int64)
    first_tok = np.concatenate(([0], np.cumsum(tok_counts)[:-1]))
    has_tok = tok_counts > 0
    tok_starts[first_tok[has_tok]] = starts[has_tok]
    last_tok = first_tok + tok_counts - 1
    tok_ends[last_tok[has_tok]] = ends[has_tok]
    if len(sp):
        # space j is the (count of prior spaces in its doc)-th
        # separator: it ENDS that token and STARTS the next one.
        sep_rank = np.arange(len(sp)) - np.concatenate(
            ([0], np.cumsum(spaces_per_doc)[:-1])
        )[doc_of_space]
        tok_ends[first_tok[doc_of_space] + sep_rank] = sp
        tok_starts[first_tok[doc_of_space] + sep_rank + 1] = sp + 1
    return s, bpow, tok_starts, tok_ends, tok_counts, first_tok


def _word_gram_batch(txt_arr, n: int):
    """(doc_positions, gram_hash_uint64) distinct word-n-gram hashes of
    one slice. The gram key is the poly64 hash of the space-joined
    token window — i.e. of the SUBSTRING from the first token's start
    to the last token's end. Docs with no tokens emit nothing; docs
    with fewer than ``n`` tokens emit one gram covering every token
    (word_ngrams_of parity)."""
    tb = _token_bounds(txt_arr)
    if tb is None:
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.uint64)
    s, bpow, tok_starts, tok_ends, tok_counts, first_tok = tb
    has_tok = tok_counts > 0

    # Gram g of doc d spans tokens [g, g+n-1]; docs with < n tokens get
    # ONE gram spanning all tokens.
    gram_counts = np.maximum(tok_counts - (n - 1), 1) * has_tok
    gram_first = _ranges(first_tok[has_tok], gram_counts[has_tok])
    span = np.minimum(
        np.repeat(tok_counts[has_tok], gram_counts[has_tok]), n
    )
    g_start = tok_starts[gram_first]
    g_end = tok_ends[gram_first + span - 1]
    fps = _slice_hashes(s, bpow, g_start, g_end)
    doc_pos = np.repeat(np.flatnonzero(has_tok), gram_counts[has_tok])
    return _dedup_per_doc(doc_pos, fps)


def word_ngram_hashes_poly(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "__gh",
    rescue_starved: bool = True,
) -> DataFrame:
    """Distinct word-n-gram poly64 hashes: one ``(id_col, out_col)``
    row per distinct gram — the batched-numpy twin of the
    ``word_ngrams_of`` + ``xxhash64(slice)`` gram streams in
    decontaminate/jaccard. NULL and token-less docs emit no rows.

    ``rescue_starved=False`` opts out of the low-partition-count rescue
    (:func:`_with_kernel_parallelism`) — for callers that DELIBERATELY
    funnel a small frame into few partitions (e.g. decontaminate's eval
    side, where one Python task over a few thousand benchmark docs
    beats 32 dispatches of ~2 docs each)."""
    import pyarrow as pa

    from pyspark.sql import types as T

    id_type = df.select(id_col).schema[0].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField(out_col, T.LongType())]
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _normalized(F.col(text_col)).alias("__txt")
    )

    def fn(batches):
        for rb in batches:
            for sl in _batch_slices(rb, _MAX_SLICE_BYTES):
                doc_pos, fps = _word_gram_batch(sl.column(1), n)
                ids = sl.column(0)
                if isinstance(ids, pa.ChunkedArray):
                    ids = ids.combine_chunks()
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(doc_pos)),
                        pa.array(fps.view(np.int64)),
                    ],
                    names=[id_col, out_col],
                )

    if rescue_starved:
        base = _with_kernel_parallelism(base)
    return base.mapInArrow(fn, schema=out_schema)


def _minhash_batch(txt_arr, k: int, num_hashes: int, bands: int):
    """(doc_positions, band_bucket_uint64) one-permutation MinHash band
    buckets of one slice — the whole signature computed per document
    with NO gram rows ever leaving the batch.

    Scheme (identical to operators/dedup.lsh_band_buckets, re-based on
    poly64): shingle hash u = poly64(bytes[i:i+k]); slot = u mod
    num_hashes; per-(doc, slot) UNSIGNED min; band bucket = the fold
    ``acc = band; for (slot, min) in slot order: acc = acc·B + slot;
    acc = acc·B + min`` (mod 2^64) — replayable in DuckDB as one
    list_reduce. Docs shorter than ``k`` contribute their whole text
    as the single shingle (empty text hashes to 0), so identical short
    docs still collapse.

    The per-(doc, slot) minima come from ONE ``np.minimum.at`` scatter
    into a (docs+1)×num_hashes table keyed by a pooled per-position
    (doc+1)·nh+slot array — no O(shingles) index gather, no O(shingles)
    lexsort, no fresh large allocation (positions outside any doc's
    valid shingle range carry doc-key 0, the discarded dump zone)."""
    r = num_hashes // bands
    data, offs = _flat_utf8(txt_arr)
    n = len(data)
    starts, ends = offs[:-1].astype(np.int64), offs[1:].astype(np.int64)
    lens = ends - starts
    n_docs = len(starts)
    if n_docs == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.uint64)

    nh = np.uint64(num_hashes)
    u64max = np.uint64(0xFFFFFFFFFFFFFFFF)
    # Pooled (ADVICE r09): _batch_slices bounds bytes, not rows, so a
    # slice dense with tiny documents makes these O(rows·512B) — fresh
    # per-pass allocation would reintroduce the mmap churn the pool
    # exists to kill. Both are fully overwritten here. Occupancy only
    # needs a set-bit per hit (the old int64 bincount both over-counted
    # for the need and fresh-allocated its result every pass).
    tbl = (n_docs + 1) * num_hashes
    sl_min = _scr("sl_min", tbl, np.uint64)
    sl_min[:].fill(u64max)
    occ = _scr("sl_occ", tbl, np.uint8)
    occ[:].fill(0)

    s, bpow = _prefix_pooled(data)

    big = np.flatnonzero(lens >= k)
    tiny = np.flatnonzero(lens < k)
    with np.errstate(over="ignore"):
        if len(big) and n >= k:
            ng = n - k + 1
            g = _gram_hashes_pooled(s, bpow, n, k)
            # per-position doc key (doc+1 inside a doc's shingle range,
            # 0 outside) via boundary marks + wrapping cumsum
            dmap = _scr("dmap", ng + 1, np.uint64)
            dmap[:].fill(0)
            vs = starts[big]
            ve = vs + (lens[big] - k + 1)
            dmap[vs] += (big + 1).astype(np.uint64)
            dmap[ve] -= (big + 1).astype(np.uint64)
            np.cumsum(dmap[:ng], out=dmap[:ng])
            key = _scr("key", ng, np.uint64)
            np.remainder(g, nh, out=key)
            np.multiply(dmap[:ng], nh, out=dmap[:ng])
            np.add(key, dmap[:ng], out=key)
            ki = key.view(np.int64)
            np.minimum.at(sl_min, ki, g)
            occ[ki] = 1
        if len(tiny):
            th = _slice_hashes(s, bpow, starts[tiny], ends[tiny])
            tk = ((tiny + 1) * num_hashes).astype(np.uint64) + th % nh
            tki = tk.view(np.int64)
            np.minimum.at(sl_min, tki, th)
            occ[tki] = 1

    # compact (doc, slot, min) rows, doc-major slot-ascending by
    # construction; the dump zone (keys < num_hashes) is discarded
    idxp = np.flatnonzero(occ[num_hashes:]) + num_hashes
    if len(idxp) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.uint64)
    hs = sl_min[idxp]
    d2 = idxp // num_hashes - 1
    sl = idxp % num_hashes
    band = sl // r

    # segmented fold per (doc, band) — groups are consecutive (the key
    # sort made slots ascending within each doc) and hold <= r pairs,
    # so a loop over position-within-group (r iterations) vectorizes
    # the fold across every group at once.
    gkey = d2 * bands + band
    gfirst = np.empty(len(gkey), dtype=bool)
    gfirst[0] = True
    gfirst[1:] = gkey[1:] != gkey[:-1]
    gstart = np.flatnonzero(gfirst)
    gcount = np.diff(np.concatenate((gstart, [len(gkey)])))
    b64 = np.uint64(POLY_BASE)
    with np.errstate(over="ignore"):
        acc = band[gstart].astype(np.uint64)
        for j in range(int(gcount.max())):
            live = gcount > j
            pos = gstart[live] + j
            acc[live] = (acc[live] * b64 + sl[pos].astype(np.uint64)) * b64 + hs[pos]
    return d2[gstart], acc


def lsh_band_buckets_poly(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    rescue_starved: bool = True,
) -> DataFrame:
    """One-permutation MinHash band buckets, Arrow-batched: the scale
    rewrite of operators/dedup.lsh_band_buckets.

    The relational form explodes one row per shingle and aggregates
    (doc, slot) minima — correct, but its first exchange carries
    O(total shingles) rows (≈ corpus bytes × 20 at k=5). This kernel
    computes each document's whole signature inside the Arrow batch,
    so the ONLY rows that ever shuffle are the (id, band bucket)
    outputs: O(docs × bands) — at 100 TB that is the difference
    between shuffling ~2 PB of gram tuples and ~tens of GB. Hashes are
    poly64 (DuckDB-replayable); NULL-text docs emit no rows.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    import pyarrow as pa

    from pyspark.sql import types as T

    id_type = df.select(id_col).schema[0].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("__bucket", T.LongType())]
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _normalized(F.col(text_col)).alias("__txt")
    )

    def fn(batches):
        for rb in batches:
            for sl_ in _batch_slices(rb, _MAX_SLICE_BYTES):
                doc_pos, buckets = _minhash_batch(
                    sl_.column(1), shingle_k, num_hashes, bands
                )
                ids = sl_.column(0)
                if isinstance(ids, pa.ChunkedArray):
                    ids = ids.combine_chunks()
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(doc_pos)),
                        pa.array(buckets.view(np.int64)),
                    ],
                    names=[id_col, "__bucket"],
                )

    if rescue_starved:
        base = _with_kernel_parallelism(base)
    return base.mapInArrow(fn, schema=out_schema)


def _bigram_counts_batch(txt_arr):
    """(doc_positions, h1_uint64, h2_uint64, counts) per-document
    bigram-hash counts of one slice: token hashes are poly64 over each
    token's bytes; adjacent pairs are counted per doc (multiplicities
    kept — LM fitting needs events, not the distinct set)."""
    tb = _token_bounds(txt_arr)
    if tb is None:
        e = np.empty(0, dtype=np.int64)
        u = e.astype(np.uint64)
        return e, u, u, e
    s, bpow, tok_starts, tok_ends, tok_counts, first_tok = tb
    th = _slice_hashes(s, bpow, tok_starts, tok_ends)

    multi = np.flatnonzero(tok_counts >= 2)
    if len(multi) == 0:
        e = np.empty(0, dtype=np.int64)
        u = e.astype(np.uint64)
        return e, u, u, e
    bg_counts = (tok_counts[multi] - 1).astype(np.int64)
    i1 = _ranges(first_tok[multi], bg_counts)
    h1, h2 = th[i1], th[i1 + 1]
    doc_pos = np.repeat(multi, bg_counts)

    # run-length count per (doc, h1, h2)
    order = np.lexsort((h2, h1, doc_pos))
    d, a, b = doc_pos[order], h1[order], h2[order]
    newgrp = np.empty(len(d), dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (d[1:] != d[:-1]) | (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    gstart = np.flatnonzero(newgrp)
    counts = np.diff(np.concatenate((gstart, [len(d)])))
    return d[gstart], a[gstart], b[gstart], counts


def bigram_hash_counts_poly(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rescue_starved: bool = True,
) -> DataFrame:
    """Per-document bigram counts keyed by 64-bit token hashes:
    ``(id_col, w1, w2, __n_local)`` — the batched-numpy twin of
    operators/lm._per_doc_bigrams.

    The LM pipeline never exposes its keys (only per-doc scores leave
    the model plane), so hashing the tokens changes nothing observable
    — same count multiset, same marginals, same distinct-w2 V — while
    the token split + bigram struct HOF (interpreted per pair) becomes
    one numpy pass per Arrow batch, and every model-side shuffle
    carries fixed-width longs instead of word pairs. Tokenization
    matches ``_tokens(lower(text))`` exactly (whitespace split, empty
    tokens dropped — normalization cannot change the token sequence).
    """
    import pyarrow as pa

    from pyspark.sql import types as T

    id_type = df.select(id_col).schema[0].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("w1", T.LongType()),
            T.StructField("w2", T.LongType()),
            T.StructField("__n_local", T.LongType()),
        ]
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _normalized(F.col(text_col)).alias("__txt")
    )

    def fn(batches):
        for rb in batches:
            for sl_ in _batch_slices(rb, _MAX_SLICE_BYTES):
                doc_pos, h1, h2, counts = _bigram_counts_batch(sl_.column(1))
                ids = sl_.column(0)
                if isinstance(ids, pa.ChunkedArray):
                    ids = ids.combine_chunks()
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(doc_pos)),
                        pa.array(h1.view(np.int64)),
                        pa.array(h2.view(np.int64)),
                        pa.array(counts.astype(np.int64)),
                    ],
                    names=[id_col, "w1", "w2", "__n_local"],
                )

    if rescue_starved:
        base = _with_kernel_parallelism(base)
    return base.mapInArrow(fn, schema=out_schema)


def _feature_bucket_counts_batch(txt_arr, n_buckets: int, use_bigrams: bool):
    """(doc_positions, bucket_int64, counts) of the DSIR feature stream
    (unigrams + adjacent-pair bigrams, multiplicities kept): bucket =
    unsigned poly64 hash of the feature string mod ``n_buckets``.
    The bigram feature hash equals poly64 of "tok1 tok2" — i.e. the
    normalized-text SUBSTRING spanning both tokens."""
    tb = _token_bounds(txt_arr)
    if tb is None:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    s, bpow, tok_starts, tok_ends, tok_counts, first_tok = tb
    parts_doc, parts_h = [], []

    has_tok = tok_counts > 0
    uni_doc = np.repeat(np.flatnonzero(has_tok), tok_counts[has_tok])
    parts_doc.append(uni_doc)
    parts_h.append(_slice_hashes(s, bpow, tok_starts, tok_ends))

    if use_bigrams:
        multi = np.flatnonzero(tok_counts >= 2)
        if len(multi):
            bg_counts = (tok_counts[multi] - 1).astype(np.int64)
            i1 = _ranges(first_tok[multi], bg_counts)
            parts_doc.append(np.repeat(multi, bg_counts))
            parts_h.append(_slice_hashes(s, bpow, tok_starts[i1], tok_ends[i1 + 1]))

    doc_pos = np.concatenate(parts_doc)
    buckets = (np.concatenate(parts_h) % np.uint64(n_buckets)).astype(np.int64)
    order = np.lexsort((buckets, doc_pos))
    d, b = doc_pos[order], buckets[order]
    newgrp = np.empty(len(d), dtype=bool)
    if len(d) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    newgrp[0] = True
    newgrp[1:] = (d[1:] != d[:-1]) | (b[1:] != b[:-1])
    gstart = np.flatnonzero(newgrp)
    counts = np.diff(np.concatenate((gstart, [len(d)])))
    return d[gstart], b[gstart], counts


def word_feature_bucket_counts_poly(
    df: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    passthrough: tuple[str, ...] = ("doc_id",),
    use_bigrams: bool = True,
    rescue_starved: bool = True,
) -> DataFrame:
    """Per-document hashed-feature bucket counts for DSIR-style
    importance models: ``(*passthrough, __b, __n)`` — the batched twin
    of the explode → hash → pmod → count pipeline in operators/dsir.

    Buckets are ``poly64(feature) mod n_buckets`` on the UNSIGNED
    value (DuckDB-replayable); unigram features are the tokens, bigram
    features the space-joined adjacent pairs (docs with <2 tokens emit
    no bigrams — dsir._features parity). Token-less/NULL docs emit no
    rows (they score 0.0 via the callers' left join)."""
    import pyarrow as pa

    from pyspark.sql import types as T

    fields = [
        T.StructField(c, df.select(c).schema[0].dataType) for c in passthrough
    ]
    out_schema = T.StructType(
        fields
        + [T.StructField("__b", T.LongType()), T.StructField("__n", T.LongType())]
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        *[F.col(c) for c in passthrough],
        _normalized(F.col(text_col)).alias("__txt"),
    )
    npass = len(passthrough)

    def fn(batches):
        for rb in batches:
            # text is the LAST column here; _batch_slices sizes column 1,
            # so re-point it at the text column index
            import pyarrow.compute as pc

            sizes = pc.binary_length(rb.column(npass)).to_numpy(
                zero_copy_only=False
            )
            sizes = np.nan_to_num(sizes.astype(np.float64), nan=0.0).astype(np.int64)
            cum = np.cumsum(sizes) if len(sizes) else np.empty(0, dtype=np.int64)
            lo = 0
            while lo < rb.num_rows:
                hi = int(
                    np.searchsorted(cum, (cum[lo - 1] if lo else 0) + _MAX_SLICE_BYTES)
                ) + 1
                hi = min(max(hi, lo + 1), rb.num_rows)
                sl_ = rb.slice(lo, hi - lo)
                lo = hi
                doc_pos, buckets, counts = _feature_bucket_counts_batch(
                    sl_.column(npass), n_buckets, use_bigrams
                )
                take = pa.array(doc_pos)
                cols = []
                for i in range(npass):
                    c = sl_.column(i)
                    if isinstance(c, pa.ChunkedArray):
                        c = c.combine_chunks()
                    cols.append(c.take(take))
                yield pa.RecordBatch.from_arrays(
                    cols + [pa.array(buckets), pa.array(counts.astype(np.int64))],
                    names=[f.name for f in out_schema.fields],
                )

    if rescue_starved:
        base = _with_kernel_parallelism(base)
    return base.mapInArrow(fn, schema=out_schema)
