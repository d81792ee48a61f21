"""Unit tests for stages not yet covered individually."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def test_bin_numeric_values_custom_bins(spark):
    from meds_transforms_spark.operators.bin_numeric_values import bin_numeric_values
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [
        (1, None, "HR", 50.0, None),
        (1, None, "HR", 100.0, None),   # boundary: right-closed → >= 100 bin
        (1, None, "HR", 150.0, None),
        (1, None, "TEMP", 98.0, None),  # no bins configured → untouched
        (1, None, "HR", None, None),    # null value → untouched
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    out = bin_numeric_values(
        df,
        custom_bins={"HR": [100.0]},
        code_with_bin_name="{code}//bin_[{left},{right})",
        drop_numeric_value=True,
    )
    codes = sorted(r.code for r in out.collect())
    assert codes.count("HR//bin_[-inf,100.0)") == 1   # 50
    assert codes.count("HR//bin_[100.0,inf)") == 2    # 100 (boundary), 150
    assert "TEMP" in codes
    assert "HR" in codes  # the null-value row keeps its raw code
    binned_vals = {r.code: r.numeric_value for r in out.collect() if "bin_" in r.code}
    assert all(v is None for v in binned_vals.values())


def test_reorder_measurements_priority_order(spark):
    from meds_transforms_spark.operators.reorder_measurements import (
        reorder_measurements,
    )
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t, "LAB//X", 1.0, None),
        (1, t, "ADMISSION//ER", None, None),
        (1, t, "VITALS//HR", 88.0, None),
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    out = reorder_measurements(
        df, ordered_code_patterns=["^ADMISSION//.*", "^VITALS//.*"]
    )
    codes = [r.code for r in out.collect()]
    assert codes == ["ADMISSION//ER", "VITALS//HR", "LAB//X"]


def test_add_time_derived_composite(spark, meds_df):
    from meds_transforms_spark.operators.add_time_derived import (
        add_time_derived_measurements,
    )

    out = add_time_derived_measurements(
        meds_df,
        age={"DOB_code": "MEDS_BIRTH", "age_code": "AGE", "age_unit": "years"},
        time_of_day={"endpoints": [6, 12, 18, 24]},
        timeline_tokens={"time_unit": "d"},
    )
    codes = {r.code for r in out.collect()}
    assert "AGE" in codes
    assert any(c.startswith("TIME_OF_DAY//") for c in codes)
    assert {"TIMELINE//START", "TIMELINE//END", "TIMELINE//DELTA//days"} <= codes
    assert "HR" in codes  # originals retained
    # AGE sanity: subject 1 admitted 2010, born 1980 → ~29.4 years
    ages = [
        r.numeric_value
        for r in out.collect()
        if r.code == "AGE" and r.subject_id == 1
    ]
    assert ages and all(29 < a < 30 for a in ages)


def test_drop_regex_and_filter_rows(spark, meds_df):
    from meds_transforms_spark.operators.misc import drop_regex, filter_rows

    out = drop_regex(meds_df, regex="^EYE_COLOR//.*")
    assert not any(
        r.code.startswith("EYE_COLOR//") for r in out.select("code").collect()
    )
    out2 = filter_rows(meds_df, matcher={"time": {"present": False}})
    assert out2.count() == meds_df.filter(F.col("time").isNull()).count()


def test_scrub_pii_counts_and_redaction(spark):
    from meds_transforms_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.io or c_d%e@sub.dom.org, call 555-123-4567 now"),
            (2, "server 10.0.255.3 rebooted; no contacts here"),
            (3, "plain text only"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 1, 0)
    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text
    assert "a.b@x.io" not in out[1].text and "555-123-4567" not in out[1].text
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 0, 1)
    assert "<IP>" in out[2].text
    assert out[3].text == "plain text only"
    assert out[4].text is None and out[4].n_email is None


def test_repetition_stats_fractions(spark):
    from meds_transforms_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # one word repeated: all-dup
            (2, "w x y z"),          # all distinct
            (3, "a b a b a"),        # bigrams: "a b" x2, "b a" x2 -> 2 dup of 4
            (4, "solo"),             # single word: no bigrams
            (5, ""),                 # empty text
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].n_words == 4 and out[1].n_distinct_words == 1
    assert out[1].dup_word_fraction == 0.75 and out[1].top_word_fraction == 1.0
    assert out[1].dup_bigram_fraction == round(2 / 3, 6)
    assert out[2].dup_word_fraction == 0.0 and out[2].top_word_fraction == 0.25
    assert out[3].n_words == 5 and out[3].dup_bigram_fraction == 0.5
    assert out[4].n_words == 1 and out[4].dup_bigram_fraction == 0.0
    assert out[5].n_words == 0 and out[5].top_word_fraction == 0.0


def test_remove_boilerplate_lines(spark):
    from meds_transforms_spark.operators.text import remove_boilerplate_lines

    rows = [
        (1, "siteA", "HEADER\nbody one\nFOOTER"),
        (2, "siteA", "HEADER\nbody two\nFOOTER"),
        (3, "siteA", "HEADER\nbody three\nFOOTER"),
        (4, "siteB", "HEADER\nother body"),  # HEADER only once in siteB
        (5, "siteB", "unique text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r.text for r in remove_boilerplate_lines(df, min_docs=2).collect()}
    assert out[1] == "body one" and out[2] == "body two" and out[3] == "body three"
    assert out[4] == "HEADER\nother body"  # below threshold in its source
    assert out[5] == "unique text"

    # min_frac raises the threshold to ceil(frac * per-source docs):
    # siteC has 4 docs; PROMO is in 3 (75%), DUO in 2 (50%). At
    # min_docs=2 + min_frac=0.6 the threshold is max(2, 3) = 3, so
    # PROMO goes, DUO stays (it would have been cut by min_docs alone).
    rows_c = [
        (6, "siteC", "PROMO\nalpha\nDUO"),
        (7, "siteC", "PROMO\nbeta\nDUO"),
        (8, "siteC", "PROMO\ngamma"),
        (9, "siteC", "delta"),
    ]
    df_c = spark.createDataFrame(rows_c, "doc_id long, source string, text string")
    out_frac = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(df_c, min_docs=2, min_frac=0.6).collect()
    }
    assert out_frac[6] == "alpha\nDUO"
    assert out_frac[7] == "beta\nDUO"
    assert out_frac[8] == "gamma"
    assert out_frac[9] == "delta"


def test_remove_boilerplate_blank_lines_and_nulls(spark):
    """Blank lines are never boilerplate candidates (they'd otherwise be
    stripped corpus-wide, collapsing paragraph structure), and NULL text
    stays NULL instead of collapsing to ''."""
    from meds_transforms_spark.operators.text import remove_boilerplate_lines

    rows = [
        (1, "siteA", "HEADER\n\npara one\n\npara two\nFOOTER"),
        (2, "siteA", "HEADER\n\nother text\nFOOTER"),
        (3, "siteA", "HEADER\n  \nindent blank kept\nFOOTER"),
        (4, "siteA", None),
        (5, "siteB", None),  # source with no boilerplate at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r.text for r in remove_boilerplate_lines(df, min_docs=2).collect()}
    # HEADER/FOOTER stripped; blank (and whitespace-only) lines survive.
    assert out[1] == "\npara one\n\npara two"
    assert out[2] == "\nother text"
    assert out[3] == "  \nindent blank kept"
    assert out[4] is None
    assert out[5] is None


def test_dedupe_doc_lines(spark):
    """Within-doc repeated lines collapse to the first occurrence;
    blank lines and NULL text survive; cross-doc repeats untouched."""
    from meds_transforms_spark.operators.text import dedupe_doc_lines

    rows = [
        (1, "MENU\nintro text\n\nMENU\nbody\n\nbody\nMENU"),
        (2, "MENU\nother page"),  # same line in another doc: kept there
        (3, None),
        (4, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in dedupe_doc_lines(df).collect()}
    assert out[1] == "MENU\nintro text\n\nbody\n"
    assert out[2] == "MENU\nother page"
    assert out[3] is None
    assert out[4] == "single"

    # keep_blank=False also collapses repeated blanks
    out2 = {r.doc_id: r.text for r in dedupe_doc_lines(df, keep_blank=False).collect()}
    assert out2[1] == "MENU\nintro text\n\nbody"


def test_keep_latest_versions(spark):
    from meds_transforms_spark.operators.dedup import keep_latest

    rows = [
        ("u1", 1, 100, "old"),
        ("u1", 2, 200, "new"),
        ("u2", 3, 50, "only"),
        ("u3", 4, None, "undated"),
        ("u3", 5, 10, "dated"),
        ("u4", 6, 10, "tie-a"),
        ("u4", 7, 10, "tie-b"),  # ts tie → higher version id wins
    ]
    df = spark.createDataFrame(rows, "url string, version long, fetched long, body string")
    out = {
        r.url: r.body
        for r in keep_latest(df, "url", "fetched", tiebreak_cols=["version"]).collect()
    }
    assert out == {"u1": "new", "u2": "only", "u3": "dated", "u4": "tie-b"}


def test_assign_cells_exact_matches_hof(spark):
    """Round-10: semantic_dedup's "hof" assignment is served by the
    fold-order-preserving Arrow kernel (ivf.assign_cells_exact). It
    must be BIT-identical to the interpreted _nearest_cells plan —
    including the NULL / wrong-dimension / NaN / zero-norm edges that
    all land on the lowest cell."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.ivf import (
        _nearest_cells,
        assign_cells_exact,
        ivf_centroids,
        l2_norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    # scaled copies (the semantic_dedup query shape) + adversarial rows
    aug = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("emb_d"), lambda x: x * F.lit(1.01)).alias("emb_d"),
    )
    dim = emb.select(F.size("emb_d")).first()[0]
    weird = spark.createDataFrame(
        [
            (2_000_001, None),                       # NULL vector
            (2_000_002, [0.0] * dim),                # zero norm
            (2_000_003, [1.0, 2.0]),                 # wrong dimension
            (2_000_004, [float("nan")] * dim),       # NaN components
        ],
        f"vec_id long, emb_d array<double>",
    )
    both = emb.unionByName(aug).unionByName(weird)
    cents = ivf_centroids(both, 16, "vec_id", "emb_d")

    hof = _nearest_cells(
        both.withColumn("__vnorm", l2_norm(F.col("emb_d"))),
        cents, "vec_id", "emb_d", n_probe=1,
    ).select("vec_id", "__cell")
    kern = assign_cells_exact(both, cents, "vec_id", "emb_d").select(
        "vec_id", "__cell"
    )
    a = {r["vec_id"]: r["__cell"] for r in hof.collect()}
    b = {r["vec_id"]: r["__cell"] for r in kern.collect()}
    assert a == b


def test_gram_pair_impl_matches_expr(spark):
    """pair_impl="gram" (the per-bucket Arrow Gram kernel) returns the
    IDENTICAL survivor set as the interpreted per-pair fold, across
    real embeddings, adversarial rows (NULL vector, NULL element,
    ragged dims, empty arrays, duplicate ids), an exact
    threshold-boundary tie (cos == threshold decided on the border
    path), a self-pair near the Decimal(38,0) capacity, both edges of
    the float64 tier, a Decimal(38,0) overflow, NaN and NULL ids,
    all-regular buckets with string ids and float32 input, and raises
    where the plan's quantized norm fold overflows."""
    from meds_transforms_spark.operators.dedup import (
        embedding_cosine_dedup,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    aug = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("emb_d"), lambda x: x * F.lit(1.01)).alias("emb_d"),
    )
    both = emb.unionByName(aug)
    outs = {}
    for impl in ("expr", "gram"):
        outs[impl] = {
            "sem": sorted(
                r.vec_id
                for r in semantic_dedup(
                    both, vec_col="emb_d", id_col="vec_id", n_cells=16,
                    iters=0, threshold=0.9, exact=True, pair_impl=impl,
                ).collect()
            ),
            "cos": sorted(
                r.vec_id
                for r in embedding_cosine_dedup(
                    both, vec_col="emb_d", id_col="vec_id",
                    exact=True, pair_impl=impl,
                ).collect()
            ),
        }
    assert outs["expr"] == outs["gram"] and outs["expr"]["sem"]

    # adversarial rows + exact threshold tie (threshold=1.0: identical
    # vectors sit EXACTLY on 10^4·dot² == t2·na·nb — the border path)
    rows = [
        (1, [0.5, 0.5, 0.5, 0.5]),
        (2, [0.5, 0.5, 0.5, 0.5]),     # tie with 1 at cos=1.0
        (3, None),                      # NULL vector: inert
        (4, [0.5, 0.5]),                # ragged: inert vs dim-4
        (5, [0.5, 0.5]),                # pairs with 4 at cos=1.0
        (6, []),                        # empty: fold init 0, inert
        (7, [None, 0.5, 0.5, 0.5]),     # NULL element: inert
        (2, [0.5, 0.5, 0.5, 0.5]),      # duplicate id: never pairs with itself
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb_d array<double>")
    got = {}
    for impl in ("expr", "gram"):
        got[impl] = sorted(
            r.vec_id
            for r in embedding_cosine_dedup(
                df, vec_col="emb_d", id_col="vec_id",
                exact=True, threshold=1.0, pair_impl=impl,
            ).collect()
        )
    assert got["expr"] == got["gram"], got
    # ids 2 (dup of 1) and 5 (dup of 4) dropped; inert rows kept
    assert got["gram"] == [1, 3, 4, 6, 7], got

    # id 1's self-dot (≈1.15e17) squares past Decimal(38,0), but the
    # plan's id_a < id_b never evaluates a self-pair, so neither engine
    # raises; max|q|²·dim ≈ 1.15e17 also puts the bucket in the int64 tier
    df_cap = spark.createDataFrame(
        [
            (1, [6000.0] * 32),
            (2, [1.0] * 32),
            (3, [1.0] * 31 + [1.01]),
            (4, [-1.0] * 32),
        ],
        "vec_id long, emb_d array<double>",
    )
    # near-parallel pairs with max|q|²·dim just below 2^53 (float64 tier)
    # and just above it (int64 tier)
    df_below = spark.createDataFrame(
        [(1, [4700.0] * 4), (2, [4700.0] * 3 + [4699.0])],
        "vec_id long, emb_d array<double>",
    )
    df_above = spark.createDataFrame(
        [(1, [4800.0] * 4), (2, [4800.0] * 3 + [4799.0])],
        "vec_id long, emb_d array<double>",
    )
    for frame, want in ((df_cap, [1, 4]), (df_below, [1]), (df_above, [1])):
        got = {
            impl: sorted(
                r.vec_id
                for r in embedding_cosine_dedup(
                    frame, vec_col="emb_d", id_col="vec_id", exact=True,
                    num_planes=1, pair_impl=impl,
                ).collect()
            )
            for impl in ("expr", "gram")
        }
        assert got["expr"] == got["gram"] == want, got

    # magnitudes past the int64 fast-path bound: dot² also exceeds
    # Decimal(38,0), so the INTERPRETED plan raises an ANSI overflow —
    # the gram path must raise too (its exact replay mirrors the
    # decimal capacity), not silently succeed with big-int arithmetic
    big = (1 << 31) / 10_000.0  # quantizes to 2^31: trips the int64 slow path
    df_big = spark.createDataFrame(
        [(8, [big, 0.0, 0.0, 0.0]), (9, [big, 0.0, 0.0, 0.0])],
        "vec_id long, emb_d array<double>",
    )
    for impl in ("expr", "gram"):
        with pytest.raises(Exception, match="Decimal\\(38"):
            embedding_cosine_dedup(
                df_big, vec_col="emb_d", id_col="vec_id",
                exact=True, threshold=1.0, pair_impl=impl,
            ).collect()

    # NaN ids rank above every other id and tie with each other, as in
    # Spark's ordering: id NaN duplicates id 1.0, so both engines drop it
    df_nan_id = spark.createDataFrame(
        [(1.0, [0.5, 0.5]), (float("nan"), [0.5, 0.5]), (2.0, [0.1, 0.9])],
        "vec_id double, emb_d array<double>",
    )
    # all-regular buckets (no inert row): duplicate ids, an exact
    # threshold-1.0 tie, a zero vector, float32 input and string ids;
    # a NaN element quantizes to 0 (id "d" ties with "a" at cos=1.0)
    nan = float("nan")
    df_regular = spark.createDataFrame(
        [
            ("b", [0.3, 0.4, 0.0]),
            ("a", [0.3, 0.4, 0.0]),
            ("c", [0.3, 0.4, 0.0]),
            ("a", [0.3, 0.4, 0.0]),
            ("c", [0.3, 0.4, 0.1]),
            ("z", [0.0, 0.0, 0.0]),
            ("d", [0.3, 0.4, nan]),
        ],
        "vec_id string, emb_d array<float>",
    )
    # a NULL id is never folded: its overflowing norm raises nowhere
    df_null_id = spark.createDataFrame(
        [(None, [1e20]), (2, [1.0]), (3, [1.0])],
        "vec_id long, emb_d array<double>",
    )
    for frame, want in (
        (df_nan_id, [1.0, 2.0]),
        (df_regular, ["a", "a", "z"]),
        (df_null_id, [2, None]),
    ):
        got = {
            impl: sorted(
                (r.vec_id for r in embedding_cosine_dedup(
                    frame, vec_col="emb_d", id_col="vec_id", exact=True,
                    threshold=1.0, num_planes=1, pair_impl=impl,
                ).collect()),
                key=lambda v: (v is None, v),
            )
            for impl in ("expr", "gram")
        }
        assert got["expr"] == got["gram"] == want, got

    # quantization saturates ±inf and |x·10⁴| ≥ 2⁶³ to Long.MIN/MAX,
    # whose square overflows the norm fold; a singleton whose Σq²
    # passes int64 (each q² fits) raises too, as does one whose squares
    # pass it before a NULL element: ARITHMETIC_OVERFLOW on both
    # engines, even with nothing to pair against
    for vec in (
        [float("inf"), 0.0],
        [float("-inf"), 0.0],
        [1e15, 0.0],
        [-1e15, 0.0],
        [3e5, 3e5],
        [3e5, 3e5, None],
    ):
        bad = spark.createDataFrame(
            [(1, vec)], "vec_id long, emb_d array<double>"
        )
        for impl in ("expr", "gram"):
            with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
                embedding_cosine_dedup(
                    bad, vec_col="emb_d", id_col="vec_id", exact=True,
                    num_planes=1, pair_impl=impl,
                ).collect()


def test_gram_chunked_columns_match_expr(spark, monkeypatch):
    """A Gram chunk smaller than a bucket splits its dot matrix into
    column blocks; the column offsets must put every pair back in
    place, so the survivors still equal the interpreted plan's."""
    import math

    from meds_transforms_spark.operators import dedup

    rows = []
    for i in range(40):
        a = (i % 7) * 0.4
        vec = [math.cos(a), math.sin(a), 0.25]
        if i % 3 == 0:
            vec[2] += 0.001 * i  # near-duplicates, not exact ties
        rows.append((97 - 2 * i, vec))  # ids out of input order
    frame = spark.createDataFrame(rows, "vec_id long, emb_d array<double>")

    def survivors(impl):
        return sorted(
            r.vec_id for r in dedup.embedding_cosine_dedup(
                frame, vec_col="emb_d", id_col="vec_id", exact=True,
                threshold=0.999, num_planes=1, pair_impl=impl,
            ).collect()
        )

    want = survivors("expr")
    assert 7 <= len(want) < 40, want
    monkeypatch.setattr(dedup, "_GRAM_CHUNK_CELLS", 50)  # 1-2 columns a chunk
    assert survivors("gram") == want
