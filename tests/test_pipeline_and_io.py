"""Dataset IO, resharding and match-revise tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_started


def test_meds_dataset_roundtrip_and_split_pruning(spark, meds_df, tmp_path):
    from meds_transforms_spark.operators.reshard_to_split import reshard_to_split
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    ds = MEDSDataset(spark, str(tmp_path / "meds"))
    shard = reshard_to_split(
        meds_df, split_fracs={"train": 0.5, "tuning": 0.25, "held_out": 0.25}, seed=7
    )
    ds.write_data(shard)
    ds.write_dataset_metadata({"dataset_name": "t", "dataset_version": "1"})

    back = ds.data()
    assert back.count() == meds_df.count()
    assert "split" in back.columns
    # Partition pruning: the train read must filter on the partition column.
    train = ds.train_data()
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert train.count() > 0
    assert "PartitionFilters" in plan
    assert ds.dataset_metadata()["dataset_name"] == "t"


def test_meds_dataset_reads_reference_layout(spark, tmp_path):
    """The MEDS reference layout data/{split}/{shard}.parquet reads as
    the same table as the split= layout — whole, and per split through
    subject_splits.parquet — while the split= read keeps its
    partition-pruned scan."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    splits = {1: "train", 2: "train", 3: "train", 4: "tuning", 5: "held_out"}
    rows = [
        (s, t, c, v)
        for s in splits
        for t, c, v in [
            (None, "EYE_COLOR//BLUE", None),
            (dt.datetime(2020, 1, s), "HR", 60.0 + s),
            (dt.datetime(2020, 2, s), "TEMP", None),
        ]
    ]
    schema = pa.schema(
        [
            ("subject_id", pa.int64()),
            ("time", pa.timestamp("us")),
            ("code", pa.string()),
            ("numeric_value", pa.float32()),
        ]
    )
    for layout, sub in [("partitioned", "split={}"), ("reference", "{}")]:
        root = tmp_path / layout
        for split in set(splits.values()):
            d = root / "data" / sub.format(split)
            os.makedirs(d)
            for i in range(2):  # two shards, subjects kept whole
                shard = [
                    dict(zip(schema.names, r))
                    for r in rows
                    if splits[r[0]] == split and r[0] % 2 == i
                ]
                pq.write_table(pa.Table.from_pylist(shard, schema=schema), d / f"{i}.parquet")
        ds = MEDSDataset(spark, str(root))
        ds.write_subject_splits(
            spark.createDataFrame(list(splits.items()), "subject_id long, split string")
        )

    partitioned = MEDSDataset(spark, str(tmp_path / "partitioned"))
    reference = MEDSDataset(spark, str(tmp_path / "reference"))
    cols = ["subject_id", "time", "code", "numeric_value"]

    def got(df):
        return sorted(df.select(cols).collect(), key=lambda r: (r[0], str(r[1]), r[2]))

    assert got(reference.data()) == got(partitioned.data())
    assert len(got(reference.data())) == len(rows)
    train = partitioned.data(split="train")
    assert got(reference.data(split="train")) == got(train)
    assert {r.subject_id for r in got(train)} == {1, 2, 3}
    assert "PartitionFilters: [isnotnull(split" in (
        train._jdf.queryExecution().executedPlan().toString()
    )


def test_shards_json_roundtrip(spark, meds_df, tmp_path):
    """Reference-tooling interop: metadata/.shards.json maps
    '{split}/{idx}' -> subject id lists (reference
    tests/test_generic_input.py:28), with np.array_split chunk sizing."""
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    ds = MEDSDataset(spark, str(tmp_path / "meds"))
    splits = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "tuning")],
        "subject_id long, split string",
    )
    written = ds.write_shards_json(splits, n_subjects_per_shard=1)
    assert written == {"train/0": [1], "train/1": [2], "tuning/0": [3]}
    assert ds.shards_json() == written

    # One shard per split when the cap is large; ids sorted.
    written = ds.write_shards_json(splits, n_subjects_per_shard=100)
    assert written == {"train/0": [1, 2], "tuning/0": [3]}


def test_assign_splits_deterministic(spark):
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.reshard_to_split import assign_splits

    # >= 10 subjects: the reference-parity algorithm (like the
    # reference itself) raises when a split cannot be made non-empty
    wide = spark.range(1, 31).select(F.col("id").alias("subject_id"))
    a = {r.subject_id: r.split for r in assign_splits(wide, seed=13).collect()}
    b = {r.subject_id: r.split for r in assign_splits(wide, seed=13).collect()}
    c = {r.subject_id: r.split for r in assign_splits(wide, seed=14).collect()}
    assert a == b
    assert set(a) == set(c)  # same subjects, possibly different splits


def test_assign_splits_hash_method(spark, meds_df):
    """The distributed hash assignment: valid disjoint splits over the
    same subject universe as the permutation method, deterministic per
    seed, and reshard's inline-expression path agrees with the
    materialized assignment table exactly."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.operators.reshard_to_split import (
        assign_splits,
        reshard_to_split,
    )

    wide = spark.range(1, 31).select(F.col("id").alias("subject_id"))
    perm = {r.subject_id: r.split for r in assign_splits(wide, seed=5).collect()}
    h1 = {
        r.subject_id: r.split
        for r in assign_splits(wide, seed=5, method="hash").collect()
    }
    h2 = {
        r.subject_id: r.split
        for r in assign_splits(wide, seed=5, method="hash").collect()
    }
    assert h1 == h2  # deterministic
    assert set(h1) == set(perm)  # same subject universe, one split each
    assert set(h1.values()) <= {"train", "tuning", "held_out"}

    # inline column-expression path (no join, no collect) must agree
    # with the materialized table row-for-row
    inline = reshard_to_split(meds_df, seed=5, method="hash")
    plan = inline._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan  # genuinely join-free
    for r in inline.select("subject_id", "split").distinct().collect():
        assert h1[r.subject_id] == r.split

    with pytest.raises(ValueError):
        assign_splits(meds_df, method="bogus")


def test_match_revise_first_match_consumes(spark, meds_df):
    from meds_transforms_spark.operators.match_revise import match_revise
    from meds_transforms_spark.operators.misc import scale_numeric

    out = match_revise(
        meds_df,
        scale_numeric,
        [
            {"_matcher": {"code": "HR"}, "factor": 10.0},
            # Overlapping matcher: in first-match mode, HR rows are
            # already consumed and must NOT be doubled again.
            {"_matcher": {"code": {"regex": "^(HR|TEMP)$"}}, "factor": 2.0},
        ],
    )
    import math

    got = out.filter(F.col("code").isin("HR", "TEMP")).collect()
    hr = [
        r.numeric_value for r in got
        if r.code == "HR" and r.numeric_value is not None and not math.isnan(r.numeric_value)
    ]
    temp = [
        r.numeric_value for r in got
        if r.code == "TEMP" and r.numeric_value is not None and not math.isnan(r.numeric_value)
    ]
    assert all(v > 500 for v in hr)  # 10x, not 20x
    assert all(100 < v < 300 for v in temp)  # 2x
    # Residual untouched, row count preserved.
    assert out.count() == meds_df.count()


def test_match_revise_multi_mode_duplicates(spark, meds_df):
    from meds_transforms_spark.operators.match_revise import match_revise
    from meds_transforms_spark.operators.misc import scale_numeric

    out = match_revise(
        meds_df,
        scale_numeric,
        [
            {"_matcher": {"code": "HR"}, "factor": 1.0},
            {"_matcher": {"code": {"regex": "^HR$"}}, "factor": 2.0},
        ],
        mode="multi_match_and_revise",
    )
    n_hr_in = meds_df.filter(F.col("code") == "HR").count()
    n_hr_out = out.filter(F.col("code") == "HR").count()
    assert n_hr_out == 2 * n_hr_in  # both matchers see the full input


def test_embedding_cosine_dedup(spark):
    from meds_transforms_spark.operators.dedup import embedding_cosine_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id for r in embedding_cosine_dedup(df, threshold=0.99).collect()}
    assert 2 not in out
    assert {1, 3, 4} <= out
    # exact (engine-reproducible integer-arithmetic) mode agrees here
    out_e = {
        r.vec_id
        for r in embedding_cosine_dedup(df, threshold=0.99, exact=True).collect()
    }
    assert out_e == out


def test_merge_meds_datasets(spark, meds_df, tmp_path):
    """Multi-site merge: disjoint subject spaces union cleanly, splits
    concatenate, metadata refits train-only; overlapping ids raise."""
    from meds_transforms_spark.sources.meds_dataset import (
        MEDSDataset,
        merge_meds_datasets,
    )

    a_dir, b_dir = str(tmp_path / "site_a"), str(tmp_path / "site_b")
    a = MEDSDataset(spark, a_dir)
    a.write_data(meds_df)
    a.write_subject_splits(
        spark.createDataFrame(
            [(1, "train"), (2, "tuning"), (3, "train")],
            "subject_id long, split string",
        )
    )
    a.write_dataset_metadata({"dataset_name": "site_a", "dataset_version": "1"})

    shifted = meds_df.withColumn("subject_id", F.col("subject_id") + 100)
    b = MEDSDataset(spark, b_dir)
    b.write_data(shifted)
    b.write_subject_splits(
        spark.createDataFrame(
            [(101, "train"), (102, "train"), (103, "held_out")],
            "subject_id long, split string",
        )
    )
    b.write_dataset_metadata({"dataset_name": "site_b", "dataset_version": "1"})

    out = merge_meds_datasets(spark, [a_dir, b_dir], str(tmp_path / "merged"))
    data = out.data()
    assert data.count() == 2 * meds_df.count()
    assert out.subject_splits().count() == 6
    meta = out.code_metadata()
    counts = {r.code: r["code/n_subjects"] for r in meta.collect()}
    # Metadata refits train-only over the union: HR is observed for
    # subjects 1,2,3 per site; the train subjects among them are {1,3}
    # at site_a and {101,102} at site_b — tuning/held-out subjects must
    # not count.
    assert counts["HR"] == 4
    assert out.dataset_metadata()["dataset_name"] == "site_a+site_b"

    # Overlapping subject ids must refuse.
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        merge_meds_datasets(spark, [a_dir, a_dir], str(tmp_path / "bad"))


def test_pipeline_metrics_from_checkpoint_footers(spark, meds_df, tmp_path):
    """With checkpointing on, last_run_metrics reports per-stage rows /
    bytes / files from parquet footers alone (no extra Spark action),
    and marks resumed stages on a second run."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 2}
  - aggregate_code_metadata:
      aggregations: ["code/n_occurrences"]
"""
    )
    p = Pipeline(spark, cfg, checkpoint_dir=str(tmp_path / "ck"))
    data, meta = p.run(meds_df)
    m = {x["stage"]: x for x in p.last_run_metrics}
    assert set(m) == {"filter_subjects", "aggregate_code_metadata"}
    assert m["filter_subjects"]["kind"] == "data"
    assert m["filter_subjects"]["rows"] == data.count()
    assert m["aggregate_code_metadata"]["kind"] == "metadata"
    assert m["aggregate_code_metadata"]["rows"] == meta.count()
    assert all(x["bytes"] > 0 and x["files"] >= 1 and not x["resumed"]
               for x in p.last_run_metrics)

    p2 = Pipeline(spark, cfg, checkpoint_dir=str(tmp_path / "ck"), resume=True)
    p2.run(meds_df)
    assert all(x["resumed"] for x in p2.last_run_metrics)
    assert {x["stage"]: x["rows"] for x in p2.last_run_metrics} == {
        k: v["rows"] for k, v in m.items()
    }


def test_pipeline_metrics_empty_without_checkpoint(spark, meds_df):
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml("stages:\n  - filter_subjects: {min_events_per_subject: 2}\n")
    p = Pipeline(spark, cfg)
    p.run(meds_df)
    assert p.last_run_metrics == []


def test_pipeline_fits_metadata_plane_once(spark, meds_df, tmp_path):
    """Pipeline.run over the shipped normalize.yaml computes each
    metadata stage's codes table once: after the data write, writing the
    code metadata reads that pinned table instead of rebuilding its
    lineage (event scan, subject window, code aggregate, vocabulary
    rank)."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    cfg = PipelineConfig.from_yaml("pkg://meds_transforms_spark.pipelines.normalize.yaml")
    data, meta = Pipeline(spark, cfg).run(meds_df)
    data.write.parquet(str(tmp_path / "data"))
    out = MEDSDataset(spark, str(tmp_path / "out"))
    _, jobs = jobs_started(spark, lambda: out.write_code_metadata(meta))
    assert 0 < len(jobs) <= 2, jobs
    assert out.code_metadata().count() == meta.count() > 0


def test_normalize_yaml_run_and_write_job_count(spark, meds_df, tmp_path):
    """Pipeline.run over normalize.yaml plus the data and metadata writes
    start 8 jobs on this fixture: the codes table is aggregated without a
    global sort and broadcast without re-deduplication."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    cfg = PipelineConfig.from_yaml("pkg://meds_transforms_spark.pipelines.normalize.yaml")
    out = MEDSDataset(spark, str(tmp_path / "out"))
    (data, meta), run_jobs = jobs_started(spark, lambda: Pipeline(spark, cfg).run(meds_df))
    _, data_jobs = jobs_started(spark, lambda: out.write_data(data))
    _, meta_jobs = jobs_started(spark, lambda: out.write_code_metadata(meta))
    assert len(run_jobs) + len(data_jobs) + len(meta_jobs) <= 8, (
        run_jobs, data_jobs, meta_jobs,
    )
    assert out.data().count() == data.count() > 0


def test_pipeline_keeps_split_layout_through_normalization(spark, meds_df, tmp_path):
    """normalize.yaml over a split-partitioned dataset (no
    subject_splits.parquet) writes split-partitioned output: each
    subject stays readable under its own split."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig
    from meds_transforms_spark.plans.pipeline import canonical_sort
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    splits = {1: "train", 2: "train", 3: "held_out"}
    split_of = F.create_map(*[F.lit(x) for kv in splits.items() for x in kv])
    src = MEDSDataset(spark, str(tmp_path / "in"))
    src.write_data(meds_df.withColumn("split", split_of[F.col("subject_id")]))

    cfg = PipelineConfig.from_yaml("pkg://meds_transforms_spark.pipelines.normalize.yaml")
    data, _ = Pipeline(spark, cfg).run(src.data())
    out = MEDSDataset(spark, str(tmp_path / "out"))
    out.write_data(canonical_sort(data))

    for split in ("train", "held_out"):
        got = {r.subject_id for r in out.data(split=split).select("subject_id").distinct().collect()}
        assert got == {s for s, sp in splits.items() if sp == split}


def test_canonical_sort_survives_split_partitioned_write(spark, tmp_path):
    """Each file of a split-partitioned write is in canonical order, even
    when rows reach the sort out of order (Spark's partitioned write adds
    a sort on split, which must not replace the canonical one)."""
    import glob

    import pyarrow.parquet as pq

    from meds_transforms_spark.plans.pipeline import canonical_sort
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    sid = F.col("id") % 50
    df = spark.range(2000).select(
        sid.alias("subject_id"),
        F.timestamp_seconds((F.col("id") * 7919) % 100_000).alias("time"),
        F.lit("HR").alias("code"),
        F.lit(None).cast("float").alias("numeric_value"),
        F.when(sid % 3 == 0, "train").otherwise("held_out").alias("split"),
    )
    out = MEDSDataset(spark, str(tmp_path / "out"))
    out.write_data(canonical_sort(df))

    files = glob.glob(str(tmp_path / "out" / "data" / "split=*" / "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["subject_id", "time"])
        s, tm = t.column("subject_id").to_numpy(), t.column("time").cast("int64").to_numpy()
        assert not ((s[1:] < s[:-1]) | ((s[1:] == s[:-1]) & (tm[1:] < tm[:-1]))).any(), f


def test_pipeline_rejects_duplicate_vocab_keys_on_write(spark, meds_df, tmp_path):
    """Duplicate code-metadata keys still raise through Pipeline.run —
    when the normalized data is written, not when the plan is built."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - fit_vocabulary_indices: {}
  - normalization: {}
"""
    )
    meta = spark.createDataFrame(
        [("HR", 3, 10.0, 40.0), ("HR", 1, 1.0, 1.0), ("TEMP", 2, 4.0, 10.0)],
        "code string, `values/n_occurrences` long, `values/sum` double, "
        "`values/sum_sqd` double",
    )
    data, _ = Pipeline(spark, cfg).run(meds_df, code_metadata=meta)
    with pytest.raises(Exception, match=r"not unique; duplicate: \('HR',\)"):
        data.write.parquet(str(tmp_path / "out"))


def test_yaml_pipeline_with_corpus_stages(spark):
    """The registry auto-import makes every extension stage addressable
    from YAML: a documents-frame pipeline chaining Gopher filtering,
    within-doc line dedup, and DSIR weighting runs end to end."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    docs = spark.createDataFrame(
        [
            (1, "tgt", "the alpha beta gamma words and more of that text here"),
            (2, "raw", "omega sigma tau rho words that have the size needed here"),
            (3, "raw", "short"),
        ],
        "doc_id long, source string, text string",
    )
    cfg = PipelineConfig.from_yaml(
        """
stages:
  - gopher_quality_filter: {min_words: 8, min_required_stopwords: 1}
  - filter_rows: {matcher: {gopher_pass: true}}
  - dedupe_doc_lines: {}
  - dsir_weights: {target: "source = 'tgt'", n_buckets: 64}
"""
    )
    out, _ = Pipeline(spark, cfg).run(docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2}                       # doc 3 gopher-filtered
    assert rows[1].dsir_logweight > rows[2].dsir_logweight


def test_write_shards_json_max_subjects_guard(spark, tmp_path):
    """The single-file interop manifest is driver-bounded: above
    max_subjects it must fail fast with guidance, not attempt a
    multi-GB collect (sources/meds_dataset.py write_shards_json)."""
    import pytest

    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    ds = MEDSDataset(spark, str(tmp_path / "ds"))
    splits = spark.range(10).selectExpr(
        "id AS subject_id", "CASE WHEN id % 2 = 0 THEN 'train' ELSE 'held_out' END AS split"
    )
    with pytest.raises(ValueError, match="max_subjects"):
        ds.write_shards_json(splits, max_subjects=5)
    # under the cap the manifest writes as before
    out = ds.write_shards_json(splits, n_subjects_per_shard=100, max_subjects=1000)
    assert sum(len(v) for v in out.values()) == 10


def test_merge_mixed_split_conventions(spark, meds_df, tmp_path):
    """Regression: a merge mixing a subject_splits.parquet source with a
    split-as-data-column source silently dropped the latter's subjects
    from the split map AND from the train refit."""
    from meds_transforms_spark.sources.meds_dataset import (
        MEDSDataset,
        merge_meds_datasets,
    )

    a_dir, b_dir = str(tmp_path / "mx_a"), str(tmp_path / "mx_b")
    a = MEDSDataset(spark, a_dir)
    a.write_data(meds_df)
    a.write_subject_splits(
        spark.createDataFrame(
            [(1, "train"), (2, "tuning"), (3, "train")],
            "subject_id long, split string",
        )
    )
    a.write_dataset_metadata({"dataset_name": "mx_a"})

    # site b carries split as a DATA column, no subject_splits file
    shifted = meds_df.withColumn("subject_id", F.col("subject_id") + 100).withColumn(
        "split",
        F.when(F.col("subject_id") <= 102, F.lit("train")).otherwise(F.lit("held_out")),
    )
    b = MEDSDataset(spark, b_dir)
    b.write_data(shifted)
    b.write_dataset_metadata({"dataset_name": "mx_b"})
    assert b.subject_splits() is None

    out = merge_meds_datasets(spark, [a_dir, b_dir], str(tmp_path / "mx_merged"))
    splits = {(r.subject_id, r.split) for r in out.subject_splits().collect()}
    assert (101, "train") in splits and (103, "held_out") in splits
    assert len(splits) == 6
    counts = {r.code: r["code/n_subjects"] for r in out.code_metadata().collect()}
    # train subjects: {1,3} from a + {101,102} from b — all observe HR
    assert counts["HR"] == 4


def test_attach_order_key_deterministic_ties(spark):
    """Regression: __order for time-tied rows (a subject's null-time
    static block) followed shuffle-arrival order; it must follow the
    full-row tiebreak regardless of input order or partitioning."""
    from meds_transforms_spark.sources.meds_dataset import attach_order_key

    rows = [(1, None, c, None, None) for c in ("Z", "A", "M", "B", "Q")]
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    fwd = spark.createDataFrame(rows, MEDS_DATA_SCHEMA).repartition(3)
    rev = spark.createDataFrame(rows[::-1], MEDS_DATA_SCHEMA).repartition(7)
    got_f = {r.code: r["__order"] for r in attach_order_key(fwd).collect()}
    got_r = {r.code: r["__order"] for r in attach_order_key(rev).collect()}
    assert got_f == got_r == {"A": 1, "B": 2, "M": 3, "Q": 4, "Z": 5}


def test_attach_order_key_skips_nested_unorderable_columns(spark):
    """Regression (round-6 advisory): a NESTED unorderable type —
    array<map>, struct-with-map — entered the window orderBy and failed
    analysis at ingest; orderability must be checked recursively."""
    from pyspark.sql import functions as F

    from meds_transforms_spark.sources.meds_dataset import attach_order_key

    df = spark.createDataFrame(
        [
            (1, None, "B", {"k": 1}, [{"m": 2}], ("x", {"q": 3})),
            (1, None, "A", {"k": 9}, [{"m": 8}], ("y", {"q": 7})),
        ],
        "subject_id long, time timestamp, code string, "
        "mp map<string,int>, amp array<map<string,int>>, "
        "smp struct<s:string, m:map<string,int>>",
    )
    got = {r.code: r["__order"] for r in attach_order_key(df).collect()}
    # maps at every nesting depth are excluded; code (and smp.s via the
    # struct? no — the whole struct is excluded) break the tie
    assert got == {"A": 1, "B": 2}


def test_assign_splits_matches_reference_goldens(spark):
    """Bit-identical split MEMBERSHIP to the reference's shard_subjects
    for the same seed — pinned against the reference doctest goldens
    (reshard_to_split.py:64-68, seed=1, subjects 1..10):
    3-split: train={9,4,8,2,1,10,6,5}, tuning={3}, held_out={7};
    2-split: train={5,9,6,3,10,8,1,2}, tuning={7,4}."""
    import pytest as _pytest

    from meds_transforms_spark.operators.reshard_to_split import assign_splits

    df = spark.createDataFrame([(i,) for i in range(1, 11)], "subject_id long")
    got3 = {}
    for r in assign_splits(
        df, {"train": 0.8, "tuning": 0.1, "held_out": 0.1}, seed=1
    ).collect():
        got3.setdefault(r.split, set()).add(r.subject_id)
    assert got3 == {
        "train": {9, 4, 8, 2, 1, 10, 6, 5},
        "tuning": {3},
        "held_out": {7},
    }
    got2 = {}
    for r in assign_splits(
        df, {"train": 0.8, "tuning": 0.2, "held_out": None}, seed=1
    ).collect():
        got2.setdefault(r.split, set()).add(r.subject_id)
    assert got2 == {"train": {5, 9, 6, 3, 10, 8, 1, 2}, "tuning": {7, 4}}
    # fractions that don't cover 1 must raise, never silently normalize
    with _pytest.raises(ValueError, match="sum of the split fractions"):
        assign_splits(df, {"train": 0.8, "held_out": None}, seed=1)
    # splits that can't be made non-empty must raise
    two = spark.createDataFrame([(1,), (2,)], "subject_id long")
    with _pytest.raises(ValueError, match="at least 1 subject"):
        assign_splits(two, {"train": 0.8, "tuning": 0.1, "held_out": 0.1}, seed=1)
