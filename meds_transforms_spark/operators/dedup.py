"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all expressed shuffle-minimally:

- ``exact_dedup``          hash-groupBy on a (normalized) content key
- ``minhash_lsh_dedup``    shingle → minhash → band → bucket-join
- ``simhash_dedup``        64-bit simhash signatures + band buckets
- ``ngram_jaccard_pairs``  n-gram Jaccard similarity over candidate pairs
- ``embedding_cosine_dedup`` near-dup by embedding cosine within LSH buckets

Scale notes (the whole point):
- Signatures (minhash/simhash) are computed with built-in array HOFs +
  ``xxhash64`` — JVM-side, no Python, one linear pass.
- Candidate generation never does an all-pairs cross join: LSH bands
  hash into buckets and only same-bucket pairs are compared — the
  classic MinHash-LSH bound on comparisons. The bucket join shuffles
  (band, bucket-hash) keys, each tiny.
- Cluster representative = min(doc_id) per group — a single groupBy,
  no iterative connected components in the default path (transitive
  closure via graph iteration is offered separately; at 100 TB the
  1-hop "collapse to bucket minimum" is the standard approximation).

BEHAVIOR CHANGE (round 8): the default ``hash_fn`` for
``lsh_band_buckets`` / ``minhash_lsh_dedup`` / ``dedup_index`` (and
``winnow_*`` in operators/winnow.py) flipped from the JVM-relational
``xxhash64`` path to the Arrow-batched ``poly64`` kernel. Bucket
values — and therefore which duplicate of a pair survives — differ
from pre-round-8 defaults, and the default path now requires Python
workers + pyarrow. Callers who need the old buckets or a JVM-only
plan must pass ``hash_fn="xxhash64"`` explicitly. Persisted
``dedup_index`` sidecars record their hash_fn and refuse silent
mixing, so durable indexes are safe either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage


def _normalized(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _h64(hash_fn: str, *cols: Column) -> Column:
    """64-bit-ish hash of the ':'-joined string forms of ``cols``.

    - ``"xxhash64"`` (default): fastest, JVM codegen, multi-arg native.
    - ``"md5_60"``: first 15 hex chars of md5 as a positive 60-bit
      long. ~Same collision behavior at these scales, but md5 exists
      with identical output in every engine — used by the DuckDB
      oracles to verify the FULL MinHash/SimHash pipeline end-to-end
      (xxhash64 has no DuckDB equivalent).
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(*cols)
    if hash_fn == "md5_60":
        joined = (
            cols[0]
            if len(cols) == 1
            else F.concat_ws(":", *[c.cast("string") for c in cols])
        )
        return F.conv(F.substring(F.md5(joined.cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def word_tokens(col: Column) -> Column:
    """Non-empty whitespace tokens of normalized text."""
    return F.filter(F.split(_normalized(col), r"\s+"), lambda t: t != "")


def word_ngrams_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) from an already-MATERIALIZED
    token array column.

    Always bind the token array to a real column (one ``select``) before
    calling this: Catalyst does no CSE inside higher-order-function
    lambdas, so passing the tokenization *expression* re-runs the
    regex split once per gram position — measured 6× slower on the
    n=13 decontamination gram stream."""
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


@register_stage("exact_dedup")
def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one row (min id) per distinct content hash.

    Single window pass: ONE scan, ONE shuffle on the 64-bit content
    hash, deterministic min-id tiebreak. (A groupBy + join-back reads
    the corpus twice and needs either a broadcast of every distinct key
    — unbounded at 100 TB — or a second full shuffle; the window form
    does neither.)
    """
    from pyspark.sql import Window as W

    c = F.col(text_col)
    key = F.xxhash64(_normalized(c) if normalize else c)
    keeper = F.min(id_col).over(W.partitionBy("__key"))
    # NULL text never deduplicates: xxhash64(NULL) is a CONSTANT (the
    # seed), so without the guard every null-text row in the corpus
    # would silently collapse into one survivor
    return (
        df.withColumn("__key", key)
        .withColumn("__keep", c.isNull() | (keeper == F.col(id_col)))
        .filter(F.col("__keep"))
        .drop("__key", "__keep")
    )


def lsh_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    hash_fn: str = "poly64",
    rescue_starved: bool = True,
) -> DataFrame:
    """(id, band-bucket hash) pairs via one-permutation MinHash — the
    relational formulation built for scale.

    Naive MinHash evaluates ``num_hashes`` hash functions per shingle —
    as nested array lambdas that work runs in Spark's *interpreted*
    higher-order-function path, num_hashes× per shingle (measured ~100×
    slower than codegen). Instead:

    1. EXPLODE shingles → one row per (doc, shingle); hash once with
       ``xxhash64`` in a codegen'd projection.
    2. One-permutation hashing (Li et al., NIPS 2012): partition hash
       space by ``h mod num_hashes``; the signature slot i is the min
       hash among shingles with residue i. ONE pass, one hash per
       shingle — a plain groupBy(doc, slot).min with map-side partial
       aggregation.
    3. Band bucket = hash of the band's (slot, min) pairs, sorted —
       an exact band-slice match, same S-curve as classic (b, r) LSH.
       Empty slots (rare for docs with ≫ num_hashes shingles) simply
       shorten the band key deterministically.

    Everything stays in whole-stage codegen; the only shuffles move
    (doc_id, slot/band, long) tuples, never text.

    ``hash_fn="poly64"`` (the DEFAULT since round 8) routes to the
    Arrow-batched kernel (operators/grams.lsh_band_buckets_poly): the
    whole signature is computed per document inside the batch, so the
    only rows that ever shuffle are the (id, band bucket) outputs —
    O(docs × bands), not O(shingles). Also DuckDB-replayable. The
    relational forms (``xxhash64``/``md5_60``) remain as the JVM-only
    path for sessions without Python workers and for the oracle mirror.
    """
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    if hash_fn == "poly64":
        from meds_transforms_spark.operators.grams import lsh_band_buckets_poly

        return lsh_band_buckets_poly(
            df, text_col, id_col, num_hashes, bands, shingle_k,
            rescue_starved=rescue_starved,
        )
    # Shingle in codegen, not via array HOFs: explode position ranges,
    # then substring+hash as plain projections. Duplicate shingles are
    # harmless (they can't change a per-slot minimum), so no distinct.
    #
    # Two-level chunked explode: a direct per-position explode makes
    # every generated row carry the FULL document text (O(len²) bytes
    # through the generate output). Splitting into ~64-char chunks with
    # a (k-1)-char overlap first means position rows carry ≤ 68 bytes —
    # measured 1.6× on the sf0.1 bench, and the gap widens with doc
    # length. Chunk boundaries produce the identical shingle stream:
    # chunk c covers global positions [c·CH+1, c·CH+CH], the overlap
    # supplies the cross-boundary shingles, and the last chunk is
    # always ≥ k chars (or the whole text when len < k).
    chunk = 64
    norm = _normalized(F.col(text_col))
    n_chunks = F.greatest(
        F.floor((F.length("__txt") - F.lit(shingle_k)) / F.lit(chunk)).cast("int"),
        F.lit(0),
    )
    exploded = (
        # NULL-text docs get NO bucket rows here (not just in
        # minhash_lsh_dedup's outer guard): a NULL text hashes to one
        # shared degenerate bucket, so an unguarded consumer — the
        # incremental dedup index was one — would treat every NULL doc
        # as a near-duplicate of every other.
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), norm.alias("__txt"))
        .select(
            F.col(id_col),
            F.col("__txt"),
            F.explode(F.sequence(F.lit(0), n_chunks)).alias("__c"),
        )
        .select(
            F.col(id_col),
            F.col("__txt")
            .substr(F.col("__c") * chunk + 1, F.lit(chunk + shingle_k - 1))
            .alias("__chunk"),
            F.col("__c"),
        )
        # empty docs keep their single empty shingle via the c=0 chunk
        .filter((F.length("__chunk") > 0) | (F.col("__c") == 0))
        .select(
            F.col(id_col),
            F.col("__chunk"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("__chunk") - F.lit(shingle_k - 1), F.lit(1)),
                )
            ).alias("__i"),
        )
        .select(
            F.col(id_col),
            _h64(hash_fn, F.col("__chunk").substr(F.col("__i"), F.lit(shingle_k))).alias("__h"),
        )
    )
    slots = (
        exploded.groupBy(id_col, F.pmod("__h", F.lit(num_hashes)).alias("__slot"))
        .agg(F.min("__h").alias("__mh"))
    )
    # Band fold WITHOUT collect_list: one conditional min per in-band
    # slot position keeps the aggregation in whole-stage-codegen hash
    # agg. The original collect_list(struct) form compiled to
    # ObjectHashAggregateExec, whose 128-group in-memory threshold
    # degrades to sort-based aggregation with per-group object
    # overhead — measured round 8 as a heap-OOM death spiral at a mere
    # 4M (doc, band) groups under 16 GB local-cluster executors.
    # Equivalence: slots within a band are band·r+0..r-1, each present
    # at most once, so ordering by (slot mod r) == ordering by slot,
    # and concat_ws skips the NULLs of absent slots exactly as the
    # sorted collect_list skipped missing entries.
    in_band = [
        F.min(
            F.when(F.pmod("__slot", F.lit(rows_per_band)) == i, F.col("__mh"))
        ).alias(f"__m{i}")
        for i in range(rows_per_band)
    ]
    return (
        slots.withColumn("__band", F.expr(f"__slot div {rows_per_band}"))
        .groupBy(id_col, "__band")
        .agg(*in_band)
        .select(
            F.col(id_col),
            _h64(
                hash_fn,
                F.col("__band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"__m{i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                ),
            ).alias("__bucket"),
        )
    )


@register_stage("minhash_lsh_dedup")
def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    hash_fn: str = "poly64",
    rescue_starved: bool = True,
) -> DataFrame:
    """Near-dedup: docs sharing any LSH band bucket collapse to the
    bucket's min id (1-hop representative — the standard at-scale
    approximation of full connected components).

    Representative selection is a window min over the bucket (one
    shuffle of (id, bucket) longs) followed by a per-doc min — no
    join-back against the bucket table."""
    from pyspark.sql import Window as W

    # NULL-text docs produce a shared degenerate (empty-signature)
    # bucket and would all collapse into one — they are not candidates
    # at all; bucket the non-null side and pass nulls through
    with_text = df.filter(F.col(text_col).isNotNull())
    buckets = lsh_band_buckets(
        with_text, text_col, id_col, num_hashes, bands, shingle_k, hash_fn,
        rescue_starved=rescue_starved,
    )
    with_rep = buckets.withColumn(
        "__rep", F.min(id_col).over(W.partitionBy("__bucket"))
    )
    doc_rep = with_rep.groupBy(id_col).agg(F.min("__rep").alias("__rep"))
    survivors = doc_rep.filter(F.col(id_col) == F.col("__rep")).select(id_col)
    return with_text.join(survivors, id_col, "left_semi").unionByName(
        df.filter(F.col(text_col).isNull())
    )


SIMHASH_BITS = 63  # ≤63: Spark 4 ANSI mode errors on LongType overflow


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via the relational formulation.

    bit b of the signature = sign of Σ_tokens (2·bit_b(hash(token)) − 1).
    Explode tokens, hash once (codegen), then ONE hash-aggregation with
    one ``sum(getbit(h, b)·2−1)`` column per bit — no interpreted
    lambdas, and map-side partial aggregation means the shuffle carries
    one bit-sum row per doc per map partition. Packing is a plain
    projection of shifted sign bits.

    ``hash_fn="md5_60"`` yields a 60-bit signature whose token hashes
    are engine-independent, enabling a full-pipeline DuckDB oracle.
    """
    bits = 60 if hash_fn == "md5_60" else SIMHASH_BITS
    toks = F.filter(F.split(_normalized(F.col(text_col)), r"\s+"), lambda t: t != "")
    # explode_outer: zero-token docs must still receive a signature
    # (all-zero) rather than silently vanishing from the output.
    exploded = df.select(F.col(id_col), F.explode_outer(toks).alias("__t")).select(
        F.col(id_col),
        F.when(F.col("__t").isNotNull(), _h64(hash_fn, F.col("__t"))).alias("__h"),
    )
    bit_sums = exploded.groupBy(id_col).agg(
        *[
            F.sum(F.getbit("__h", F.lit(b)) * 2 - 1).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    packed = None
    for b in range(bits):
        term = F.when(
            F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    return bit_sums.select(F.col(id_col), packed.alias("simhash"))


@register_stage("simhash_dedup")
def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """Near-dedup on simhash: docs sharing any ~16-bit band collapse
    (pigeonhole: catches all pairs within Hamming distance n_bands−1).

    NULL-text docs all carry the zero signature and would collapse into
    one — like minhash, they bypass signatures and pass through."""
    with_text = df.filter(F.col(text_col).isNotNull())
    sig = simhash_table(with_text, text_col, id_col)
    n_bands = (SIMHASH_BITS + band_bits - 1) // band_bits
    mask = (1 << band_bits) - 1
    buckets = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.shiftrightunsigned("simhash", b * band_bits).bitwiseAND(
                            F.lit(mask)
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__bucket"),
    )
    from pyspark.sql import Window as W

    with_rep = buckets.withColumn(
        "__rep", F.min(id_col).over(W.partitionBy("__bucket"))
    )
    doc_rep = with_rep.groupBy(id_col).agg(F.min("__rep").alias("__rep"))
    survivors = doc_rep.filter(F.col(id_col) == F.col("__rep")).select(id_col)
    return with_text.join(survivors, id_col, "left_semi").unionByName(
        df.filter(F.col(text_col).isNull())
    )


@register_stage("ngram_jaccard_pairs")
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    use_lsh_candidates: bool = True,
    num_hashes: int = 32,
    bands: int = 8,
    max_gram_df: int | None = 10_000,
    impl: str = "arrow",
) -> DataFrame:
    """(id_a, id_b, jaccard) pairs above threshold (id_a < id_b), exact
    word-n-gram Jaccard computed relationally (see inline notes).

    ``impl="arrow"`` (default) draws the per-doc DISTINCT gram stream
    from the poly64 kernel (operators/grams.word_ngram_hashes_poly):
    the co-occurrence join and the df-guard window operate on 64-bit
    hashes, so gram TEXT never reaches an exchange — at 100 TB the
    dominant shuffle shrinks from O(gram bytes) to 16-byte rows.
    ``impl="expr"`` keeps the pure-Catalyst gram-string form (equal
    results modulo 64-bit hash collisions).

    ``use_lsh_candidates`` further restricts output to MinHash-LSH
    bucket-sharing pairs; ``max_gram_df`` caps the document frequency of
    grams entering the co-occurrence join — a gram appearing in d docs
    contributes d² join rows, so one boilerplate n-gram shared by 1M
    docs would alone produce 10¹² rows. The guard defaults ON
    (10,000): grams more common than that carry ~zero discrimination,
    and both the intersection AND the per-doc gram-set sizes are
    computed post-filter, so the reported jaccard is over the filtered
    gram universe (a hot gram present in both docs no longer inflates
    either side). Recall effect: a pair whose overlap is carried ONLY
    by ultra-common grams can drop below threshold. Pass ``None`` for
    the exact quadratic computation.
    """
    if threshold <= 0:
        raise ValueError(
            "threshold must be > 0 (zero-overlap pairs are never emitted)"
        )
    # Relational formulation: |A∩B| via a gram equi-join co-occurrence
    # count — no per-pair array intersections (array HOFs run
    # interpreted), and only pairs sharing ≥1 gram ever materialize,
    # which is exactly the support of jaccard > 0.
    if impl == "arrow":
        from meds_transforms_spark.operators.grams import word_ngram_hashes_poly

        # per-doc distinct by construction; token-less/NULL docs emit
        # no rows — the same outcome the '' filter below gives the
        # expr path ("NULL text never deduplicates").
        grams = word_ngram_hashes_poly(
            df, n=n, text_col=text_col, id_col=id_col, out_col="__g"
        )
    else:
        # word_ngrams_of already array_distincts per doc, so the
        # explode emits unique (id, gram) rows — a dropDuplicates here
        # would re-shuffle the gram stream (the plan's largest frame)
        # for nothing
        grams = df.select(
            F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
        ).select(
            F.col(id_col), F.explode(word_ngrams_of(F.col("__toks"), n)).alias("__g")
        ).filter(
            # word_ngrams_of's short-doc fallback emits one degenerate
            # '' gram for NULL/empty token arrays — without this filter
            # every NULL/whitespace-only doc pairs with every other one
            # at jaccard=1.0 ("NULL text never deduplicates", the
            # module contract exact_dedup/minhash/simhash all honor).
            F.col("__g") != ""
        )
    if max_gram_df is not None:
        # Drop ultra-common grams: a gram in d docs contributes d² join
        # rows but almost no discrimination. EXACT results require None.
        from pyspark.sql import Window as W

        grams = (
            grams.withColumn("__df", F.count(F.lit(1)).over(W.partitionBy("__g")))
            .filter(F.col("__df") <= int(max_gram_df))
            .drop("__df")
        )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = grams.select(F.col(id_col).alias("id_a"), "__g")
    b = grams.select(F.col(id_col).alias("id_b"), "__g")
    inter = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    if use_lsh_candidates:
        buckets = lsh_band_buckets(df, text_col, id_col, num_hashes, bands)
        cand = (
            buckets.select(F.col(id_col).alias("id_a"), "__bucket")
            .join(buckets.select(F.col(id_col).alias("id_b"), "__bucket"), "__bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        inter = inter.join(cand, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sb"))
    jac = F.col("__inter") / (F.col("__sa") + F.col("__sb") - F.col("__inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "jaccard")
    )


@register_stage("embedding_cosine_dedup")
def embedding_cosine_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    exact: bool = False,
    pair_impl: str = "gram",
) -> DataFrame:
    """Near-dup removal by embedding cosine within random-hyperplane LSH
    buckets: same-bucket pairs with cosine ≥ threshold collapse to the
    min id. Hyperplanes are deterministic pseudo-random (hash-derived),
    so the operator needs no fitted model state.

    ``exact=True`` switches to the engine-reproducible formulation
    (``hyperplane_bucket_exact``'s md5-derived ±1 planes, and the
    cosine threshold decided in INTEGER arithmetic): components are
    quantized ``floor(x·10⁴ + 0.5)``, and ``cos ≥ t`` becomes
    ``dot > 0 ∧ 10⁴·dot² ≥ round(t²·10⁴)·‖a‖²·‖b‖²`` over exact
    decimals — every engine picks the identical survivor set, so the
    operator is DuckDB-oracle-checkable end to end. Quantization is
    part of the exact mode's definition (near-dup thresholds are
    approximate by nature; 1e-4 per-component wobble only moves pairs
    sitting exactly on the threshold).
    """
    from meds_transforms_spark.operators.similarity import (
        hyperplane_bucket,
        hyperplane_bucket_exact,
    )

    # filter-then-limit keeps CollectLimit's incremental partition scan
    # (an agg(first(...)) would scan the whole corpus just for the dim)
    # while still skipping NULL vectors in whatever row comes first
    probe = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .limit(1)
        .collect()
    )
    if not probe or probe[0]["d"] is None:
        return df  # empty/all-null input: nothing to dedup, no dim to probe
    dim = probe[0]["d"]
    if exact:
        bucketed = df.withColumn(
            "__bucket", hyperplane_bucket_exact(F.col(vec_col), dim, num_planes)
        )
    else:
        from meds_transforms_spark.operators.similarity import l2_norm

        # Materialize the norm into a COLUMN before the per-component
        # divide: Catalyst does no CSE inside HOF lambdas, so a norm
        # captured in the divide's lambda re-evaluates the O(d)
        # aggregate once PER COMPONENT — O(d²) per row (the measured
        # HOF-CSE pitfall, SCALING.md). Same floats, one norm eval.
        bucketed = (
            df.withColumn("__vn", l2_norm(F.col(vec_col)))
            .withColumn(
                "__bucket",
                hyperplane_bucket(
                    F.when(
                        F.col("__vn") > 0,
                        F.transform(F.col(vec_col), lambda v: v / F.col("__vn")),
                    ),
                    dim,
                    num_planes,
                ),
            )
            .drop("__vn")
        )
    return _cosine_dedup_within(
        bucketed, df, vec_col, id_col, threshold, exact, pair_impl
    )


# A bucket's dot matrix is computed this many cells (m rows × a column
# chunk) at a time, which bounds the kernel's memory under a hot bucket.
_GRAM_CHUNK_CELLS = 4 << 20
_LONG_MAX = (1 << 63) - 1
_DEC_MAX = 10**38  # Decimal(38,0) capacity — the plan's ANSI limit


def _exact_cond(dot: int, na: int, nb: int, t2: int) -> bool:
    """Exact replay of ``__dot > 0 AND dot²·10⁴ ≥ t2·na·nb`` in
    decimal(38,0) — INCLUDING the ANSI overflow raise the plan throws
    when an intermediate product exceeds Decimal(38,0) (evaluated only
    when ``__dot > 0``, matching the conjunction's short-circuit)."""
    if dot <= 0:
        return False
    for v in (sq := dot * dot, lhs := sq * 10_000, r1 := t2 * na, rhs := r1 * nb):
        if v >= _DEC_MAX:
            raise ArithmeticError(
                f"{v} cannot be represented as Decimal(38, 0) (ANSI)"
            )
    return lhs >= rhs


def _check_norm_fold(q) -> None:
    """The plan's ``aggregate(__q, 0L, (acc, v) -> acc + v*v)`` raises
    ARITHMETIC_OVERFLOW once its (monotone) sum passes Long.MAX."""
    if sum(int(v) ** 2 for v in q) > _LONG_MAX:
        raise ArithmeticError(
            "[ARITHMETIC_OVERFLOW] long overflow in the squared norm of a "
            "quantized vector (ANSI)"
        )


def _quantize(x):
    """``CAST(floor(CAST(x AS double) * 10000 + 0.5) AS long)`` bit for
    bit: the same IEEE double ops, then the JVM's saturating
    double→long (NaN → 0, ±inf and out-of-range → Long.MIN/MAX)."""
    import numpy as np

    f = np.floor(x * 1e4 + 0.5)
    q = np.nan_to_num(np.maximum(f, -(2.0**63)), nan=0.0, posinf=0.0).astype(np.int64)
    q[f >= 2.0**63] = _LONG_MAX
    return q


def _gram_bucket_dropped(ids, vecs, t2: int, chunk_cells: int):
    """The ids of one bucket that the exact pair plan drops (see
    :func:`_gram_dropped_exact`). ``ids`` is an Arrow array, ``vecs``
    an Arrow list array of the same length."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(ids)
    # the join's inferred isnotnull filters: a NULL id or vector is
    # never folded, so it neither pairs nor raises
    live = ~(ids.is_null().to_numpy(zero_copy_only=False)
             | vecs.is_null().to_numpy(zero_copy_only=False))
    off = vecs.offsets.to_numpy()
    lens = np.diff(off)
    vals = vecs.values
    x = pc.cast(vals, pa.float64()).to_numpy(zero_copy_only=False)
    if vals.null_count:
        # a NULL element NULLs every fold through it (inert row), but
        # the plan has already folded the squares before it
        isn = vals.is_null().to_numpy(zero_copy_only=False)
        cs = np.concatenate(([0], np.cumsum(isn)))
        for r in np.flatnonzero(live & (cs[off[1:]] > cs[off[:-1]])):
            first = off[r] + int(np.argmax(isn[off[r]:off[r + 1]]))
            _check_norm_fold(_quantize(x[off[r]:first]))
            live[r] = False

    # first-occurrence ranks over one sort of the ids: equal ids tie
    # (never pair), NaN ids sort above all others and tie, as in Spark
    order = pc.sort_indices(ids, null_placement="at_end")
    s = ids.take(order)
    new = pc.fill_null(pc.not_equal(s[1:], s[:-1]), False)
    new = new.to_numpy(zero_copy_only=False)
    if pa.types.is_floating(ids.type):
        nan = pc.fill_null(pc.is_nan(s), False).to_numpy(zero_copy_only=False)
        new &= ~(nan[1:] & nan[:-1])
    starts = np.where(np.concatenate(([True], new)), np.arange(n), 0)
    ranks = np.empty(n, dtype=np.int64)
    ranks[order.to_numpy()] = np.maximum.accumulate(starts)

    T2 = int(t2)
    dropped = []
    for d in np.unique(lens[live]):
        rows = np.flatnonzero(live & (lens == d))
        Q = _quantize(x[off[rows][:, None] + np.arange(d)])
        qf = Q.astype(np.float64)
        for r in np.flatnonzero(np.einsum("ij,ij->i", qf, qf) >= 2.0**62):
            _check_norm_fold(Q[r])
        # int64 wraps modulo 2⁶⁴, so a sum that fits (checked) is exact
        n2 = np.einsum("ij,ij->i", Q, Q)
        nz = n2 > 0  # a zero vector dots 0 with everything: inert
        if nz.sum() < 2:
            continue
        rows, Q, qf, n2, rk = rows[nz], Q[nz], qf[nz], n2[nz], ranks[rows[nz]]
        nf = n2.astype(np.float64)
        if n2.max() < 1 << 53:
            # Cauchy–Schwarz bounds every product and partial sum by
            # max n2 < 2⁵³: float64 (BLAS) holds each exactly, in any
            # summation order or blocking — the int64 Gram, bit for bit
            Q = qf
        # candidate cut with 1e-8 relative slack (float error is
        # ~1e-15), a superset of both the float accept and the border
        # replay below; a bucket whose sides can reach the Decimal(38,0)
        # capacity (Cauchy–Schwarz: side ≤ max(10⁴, t2)·max n2²) keeps
        # every pair, so the replay sees each one the plan would raise on
        cut = T2 * (1 - 1e-8)
        if max(10_000, T2) * nf.max() ** 2 >= 9.99e37:
            cut = -np.inf
        m = len(rows)
        chunk = max(1, chunk_cells // m)
        hit = np.zeros(m, dtype=bool)
        row_w, col_w = 1e4 / nf, cut * nf
        for c0 in range(0, m, chunk):
            G = Q @ Q[c0:c0 + chunk].T
            S = np.square(G, dtype=np.float64)
            S *= row_w[:, None]
            ci, cj = np.divmod(
                np.flatnonzero(S >= col_w[None, c0:c0 + chunk]), G.shape[1]
            )
            g = G[ci, cj]
            cj += c0
            # the plan's id_a < id_b and __dot > 0
            keep = (rk[ci] < rk[cj]) & (g > 0)
            ci, cj, g = ci[keep], cj[keep], g[keep]
            gf = g.astype(np.float64)
            lhs = gf * gf * 1e4
            rhs = float(T2) * nf[ci] * nf[cj]
            cond = lhs >= rhs
            # float-border pairs and anything within float error of the
            # Decimal(38,0) capacity re-decide in exact ints
            border = (
                (np.abs(lhs - rhs) <= 1e-9 * np.maximum(lhs, rhs))
                | (lhs >= 9.999e37)
                | (rhs >= 9.999e37)
            )
            for k in np.flatnonzero(border):
                cond[k] = _exact_cond(int(g[k]), int(n2[ci[k]]), int(n2[cj[k]]), T2)
            hit[cj[cond]] = True
        dropped.append(rk[hit])
    if not dropped:
        return ids.slice(0, 0)
    return s.take(np.unique(np.concatenate(dropped)))


def _gram_dropped_exact(
    base: DataFrame, id_col: str, vec_col: str, t2: int
) -> DataFrame:
    """Dropped ids of the exact-mode pair stage, from ONE grouped Arrow
    map over ``(id, __bucket, vec)``: each vector crosses one exchange
    once, and a bucket's pairs are decided from its Gram matrix, where
    the bucket self-join form materializes O(Σ n_b²) pair rows each
    carrying both quantized vectors through an interpreted fold.

    The kernel quantizes (:func:`_quantize`: NaN → 0, ±inf and
    out-of-range saturate to Long.MIN/MAX) and folds ``n2 = Σq²``
    itself, raising ARITHMETIC_OVERFLOW for any row whose ``n2`` passes
    int64 — singleton buckets included — as the plan's ANSI fold does.

    Each (bucket, dim) group is one matrix, built from the Arrow list
    buffers, and its dot matrix is one matmul per column chunk of
    ``_GRAM_CHUNK_CELLS`` cells: float64 (BLAS) when ``max n2 < 2⁵³``,
    else numpy's int64 loop. By Cauchy–Schwarz every partial dot is
    bounded by ``max n2``, so both are exact, and the plan's dot fold
    cannot overflow once every ``n2`` fits.

    BIT-IDENTICAL to the interpreted plan (``pair_impl="expr"``):

    - integer addition is order-independent, so the matmul's
      ``Σ qa_i·qb_i`` IS the ``aggregate(zip_with(...))`` fold value;
    - fold-NULL rows are INERT exactly as in the plan: a NULL id, a
      NULL array, a NULL element, or a length mismatch (each dim is
      its own matrix) never pairs; an empty or all-zero vector dots to
      0, never ``> 0``;
    - ``id_a < id_b`` via first-occurrence ranks over one sort of the
      Arrow id column (duplicate ids never pair; NaN ids rank above
      all others and tie, as in Spark's ordering);
    - only candidate pairs, ``10⁴·G² ≥ t2·na·nb·(1−1e-8)``, are
      decided: in float64 when the two sides differ by > 1e-9 relative,
      else — and near the Decimal(38,0) capacity — in exact Python ints
      (:func:`_exact_cond`), which raise where the plan's decimal
      product overflows.

    Skew: a hot bucket is ONE task here (no AQE pair-join split), but
    the working set is chunked, and both callers bound bucket size by
    construction (semantic cells ∝ N; hyperplane buckets). Memory per
    task stays O(bucket vectors + one chunk)."""
    import pyarrow as pa

    id_ddl = base.select(id_col).schema[0].dataType.simpleString()
    chunk_cells = _GRAM_CHUNK_CELLS  # the workers see the caller's value

    def kernel(table):
        out = _gram_bucket_dropped(
            table.column(id_col).combine_chunks(),
            table.column(vec_col).combine_chunks(),
            t2,
            chunk_cells,
        )
        return pa.table({id_col: out})

    return (
        base.select(id_col, "__bucket", vec_col)
        .groupBy("__bucket")
        .applyInArrow(kernel, schema=f"`{id_col}` {id_ddl}")
    )


def _cosine_dedup_within(
    bucketed: DataFrame,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    exact: bool,
    pair_impl: str = "expr",
) -> DataFrame:
    """Shared core of embedding_cosine_dedup / semantic_dedup: within
    each ``__bucket`` of ``bucketed``, pairs with cosine ≥ threshold
    collapse to the min id; survivors are returned from ``df``.

    The bucket (LSH band or semantic cluster) bounds the pair work:
    Σ_bucket n_b² — never corpus². Under ``pair_impl="expr"`` the AQE
    skew-join splits a hot bucket; under the Gram engine (the default
    of both callers) a bucket is one grouped-map task.

    ``pair_impl`` selects the exact-mode pair engine: ``"expr"`` the
    bucket self-join + interpreted per-pair fold over the quantized
    ``__q``/``__n2`` columns (the reference), ``"gram"`` the
    bit-identical per-bucket Arrow Gram kernel
    (:func:`_gram_dropped_exact`), which quantizes and folds the norms
    itself, so its plan carries only ``(id, __bucket, vec)``."""
    from meds_transforms_spark.operators.similarity import cosine_similarity

    if exact:
        t2 = int(round(threshold * threshold * 10_000))
        if pair_impl == "gram":
            dropped = _gram_dropped_exact(
                bucketed, id_col, vec_col, t2
            ).localCheckpoint(eager=False)
            return df.join(dropped, id_col, "left_anti")
        QUANT = 10_000
        qvec = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long"),
        )
        norm2 = lambda q: F.aggregate(  # noqa: E731
            q, F.lit(0).cast("long"), lambda acc, v: acc + v * v
        )
        base = bucketed.withColumn("__q", qvec).withColumn(
            "__n2", norm2(F.col("__q"))
        )
        a = base.select(
            F.col(id_col).alias("id_a"), F.col("__q").alias("__qa"),
            F.col("__n2").alias("__na"), "__bucket",
        )
        b = base.select(
            F.col(id_col).alias("id_b"), F.col("__q").alias("__qb"),
            F.col("__n2").alias("__nb"), "__bucket",
        )
        dot = F.aggregate(
            F.zip_with(F.col("__qa"), F.col("__qb"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        dec = "decimal(38,0)"
        pairs = (
            a.join(b, "__bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("__dot", dot)
            .filter(
                (F.col("__dot") > 0)
                & (
                    F.col("__dot").cast(dec) * F.col("__dot").cast(dec) * F.lit(10_000)
                    >= F.lit(t2).cast(dec) * F.col("__na").cast(dec) * F.col("__nb").cast(dec)
                )
            )
        )
    else:
        from meds_transforms_spark.operators.similarity import l2_norm

        # norm as a column, divide in the lambda — a norm captured in
        # the lambda would re-evaluate per component (O(d²)/row;
        # HOF-CSE pitfall)
        normed = (
            bucketed.withColumn("__vn", l2_norm(F.col(vec_col)))
            .withColumn(
                "__nvec",
                F.when(
                    F.col("__vn") > 0,
                    F.transform(F.col(vec_col), lambda v: v / F.col("__vn")),
                ),
            )
            .drop("__vn")
        )
        a = normed.select(F.col(id_col).alias("id_a"), F.col("__nvec").alias("__va"), "__bucket")
        b = normed.select(F.col(id_col).alias("id_b"), F.col("__nvec").alias("__vb"), "__bucket")
        pairs = (
            a.join(b, "__bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", cosine_similarity(F.col("__va"), F.col("__vb"), assume_normalized=True))
            .filter(F.col("cos") >= float(threshold))
        )
    # Collapse: every id_b similar to a smaller id_a is dropped.
    # Pin the (id-only) dropped set with a GC-released lazy
    # localCheckpoint (round-11): when ``df`` is a Union (e.g. corpus +
    # augmentation), the optimizer pushes the anti-join below the
    # union, and each branch rebuilds the ENTIRE pair pipeline — the
    # per-pair cosine stage (the measured bulk of the query: 2×~1.4 s
    # cpu of emb_semantic_dedup's 2.2 s wall at sf0.1) executed once
    # per branch with no exchange reuse. The checkpoint truncates the
    # lineage so every consumer reads the same computed-once id
    # blocks. NOT a broadcast: the dropped set is duplicate-count-
    # sized — unbounded at 100 TB — while checkpoint blocks stay
    # distributed.
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    return df.join(dropped, id_col, "left_anti")


@register_stage("semantic_dedup")
def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    iters: int = 0,
    threshold: float = 0.9,
    exact: bool = False,
    assign: str = "hof",
    pair_impl: str = "gram",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, then remove near-duplicates WITHIN
    each cluster — semantically redundant documents land in the same
    cell, so the pairwise cosine check runs over cluster-sized groups
    instead of hyperplane buckets (which only catch near-identical
    directions) or the full corpus.

    Plan: centroids come from :func:`~meds_transforms_spark.operators.
    ivf.kmeans_refine` (``iters=0`` → the deterministic seed rows —
    the engine-reproducible mode the oracle replays); assignment is a
    broadcast of ``n_cells`` rows against one corpus scan (no corpus
    shuffle); the within-cell pair check + min-id collapse is the same
    Σ n_cell² machinery as :func:`embedding_cosine_dedup`. AQE splits
    a skewed cell only under ``pair_impl="expr"``; under the default
    Gram engine (:func:`_gram_dropped_exact`) a cell is one grouped
    Arrow map task that quantizes its vectors itself and decides only
    the candidate pairs near or above the threshold, in exact float64
    or int64 arithmetic. ``exact=True`` uses the integer-exact cosine
    threshold so every engine keeps the identical survivor set.

    SemDeDup keeps one representative per near-dup group; this
    implementation keeps the min id (deterministic, join-free).

    Granularity caveat: keep ``n_cells`` well below the corpus size —
    in the degenerate regime where a near-dup pair are BOTH seed
    centroids (iters=0 on a tiny frame) they anchor separate cells and
    are never compared. Real corpora use n_cells ≪ N (SemDeDup's own
    setting: ~100k clusters for 100M+ docs). And n_cells must GROW
    with N: fixed cells mean linearly growing cells and quadratically
    growing within-cell pair volume (measured super-linear in
    SCALING.md round-6; n_cells ∝ N restores linear wall).

    ``assign`` picks the cell-assignment engine: ``"hof"`` (default)
    is the interpreted per-pair dot product the DuckDB oracle replays
    bit-for-bit; ``"arrow"`` is one BLAS matmul per Arrow batch
    (:func:`~meds_transforms_spark.operators.ivf.assign_cells_arrow`)
    — the scale path once n_cells is large (measured ~40× on the
    assignment pass), identical up to float-summation-order ties.
    """
    from meds_transforms_spark.operators.ivf import (
        assign_cells_arrow,
        assign_cells_exact,
        ivf_centroids,
        kmeans_refine,
    )

    if assign not in ("hof", "arrow"):
        raise ValueError(f"semantic_dedup: unknown assign={assign!r}")
    cents = (
        kmeans_refine(df, n_cells, iters, id_col, vec_col, assign=assign)
        if iters > 0
        else ivf_centroids(df, n_cells, id_col, vec_col)
    )
    if assign == "arrow":
        assigned = assign_cells_arrow(df, cents, id_col, vec_col).withColumn(
            "__bucket", F.col("__cell")
        )
    else:
        # "hof" SEMANTICS served by the fold-order-preserving Arrow
        # kernel (round-10): assign_cells_exact replays the interpreted
        # dot/norm/ranking expressions operation-for-operation (see its
        # docstring), so the assignment is bit-identical to the old
        # _nearest_cells plan — while the O(N·n_cells·dim) interpreted
        # lambda evaluations (~16M at sf0.1, the measured bulk of the
        # assignment stage) become dim vectorized numpy FMAs per batch.
        # Pinned by tests/test_more_operators.py::
        # test_assign_cells_exact_matches_hof.
        assigned = assign_cells_exact(df, cents, id_col, vec_col).withColumn(
            "__bucket", F.col("__cell")
        )
    # The pair self-join consumes the assignment subtree twice (sides
    # a/b don't canonicalize into one ReusedExchange), which would run
    # the scan + broadcast-nearest-cell assignment twice. Pin the
    # minimal (id, vec, bucket) projection so assignment executes once.
    # persist(), MEASURED against localCheckpoint here: the columnar
    # DataFrame cache reads the float-vector column back vectorized
    # (3.1 s cold at sf0.1) where checkpoint's row-serialized RDD
    # blocks cost more than the recomputation they save (4.2 s, worse
    # than no pin). Cache entries are LRU-evictable; accepted tradeoff
    # for the hot path. The gram pair engine consumes the assignment
    # exactly ONCE (the dropped set is checkpointed), so the pin would
    # be pure overhead there — skip it.
    assigned = assigned.select(id_col, vec_col, "__bucket")
    if not (exact and pair_impl == "gram"):
        assigned = assigned.persist()
    return _cosine_dedup_within(
        assigned, df, vec_col, id_col, threshold, exact, pair_impl
    )


@register_stage("keep_latest")
def keep_latest(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Version dedup: one row per key — the freshest by ``ts_col``.

    The re-crawl/CDC curation primitive (a URL fetched monthly, a
    record upserted repeatedly): ``row_number`` over the key partition
    ordered by (ts DESC, tiebreaks DESC) — ONE shuffle on the key, no
    join-back. NULL timestamps sort last (a dated version always beats
    an undated one). Supply ``tiebreak_cols`` for a total order when
    timestamps can tie; without them ties resolve arbitrarily (but
    deterministically within a fixed partitioning only).
    """
    from pyspark.sql import Window as W

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(ts_col).desc_nulls_last()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
