"""The two workloads. Each drives the library only through its public
API and keeps what it needs to check every operation's output after the
timed phase. One operation is one full pass over the workload's inputs.

A workload exposes:

- ``op_s``: the nominal seconds of one timed pass, on 4 cores; a timed
  phase of ``--seconds`` runs ``round(seconds / op_s)`` passes;
- ``settle_ops``: untimed passes between the set-up and the timed phase,
  while the JIT still compiles the hottest paths;
- ``generate()``: write the seeded inputs (not timed);
- ``warm(spark)``: one untimed operation on the real inputs: the cold
  first one of a set-up (part of ``setup_s``), or a settle pass;
- ``op(spark, i, group)``: one closed-loop operation; returns the input
  rows it processed and stores what the check needs. ``group`` is the
  Spark job group of a traced op, under which it may label its phases;
- ``check()``: for each operation that returned, in order, whether its
  output matches the replay, plus notes on the mismatches;
- ``ladder(spark)``: ``[(stage, fn)]`` for the traced run, where
  ``fn(pinned)`` returns the stage's output given ``pinned``, the eagerly
  pinned outputs of the stages before it, keyed by stage name.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow.parquet as pq

import gen
from oracle import MedsOracle

NORMALIZE_YAML = "pkg://meds_transforms_spark.pipelines.normalize.yaml"
STATS_AGGS = ["code/n_subjects", "code/n_occurrences", "values/n_occurrences",
              "values/sum", "values/sum_sqd"]


def _pin(df):
    return df.localCheckpoint(eager=True)


def _dir_bytes(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                n_bytes += os.path.getsize(os.path.join(dirpath, n))
                n_files += 1
    return n_bytes, n_files


class MedsBase:
    """Shared MEDS plumbing: the dataset and the known-defect probes."""

    #: (subjects, mean timed rows per subject) of the probes' dataset
    probe_size = (150, 40)

    def __init__(self, work: str, seed: int, spans):
        self.work = work
        self.seed = seed
        self.spans = spans
        self.root = os.path.join(work, "meds")
        self.probe_root = os.path.join(work, "meds_probe")
        self.ref_root = os.path.join(work, "meds_reference_layout")
        self.records: list = []
        self.input_rows = 0

    def generate(self) -> None:
        tables = gen.meds_tables(self.seed, *self.size)
        gen.write_meds(self.root, tables, shards=4)
        self.input_rows = sum(t.num_rows for t in tables.values())
        self.write_probe_inputs()

    def write_probe_inputs(self) -> None:
        tables = gen.meds_tables(self.seed + 1_000_003, *self.probe_size)
        gen.write_meds(self.probe_root, tables, shards=4)
        gen.write_meds(self.ref_root, tables, shards=2, layout="reference")

    def read(self, spark, root: str | None = None):
        from meds_transforms_spark.sources.meds_dataset import MEDSDataset

        with self.spans.span("sources.read_call"):
            return MEDSDataset(spark, root or self.root).data()

    def probes(self, spark) -> list[tuple[str, bool, str]]:
        """Two known defects, run once per run and never worked around.

        (a) reading the MEDS reference layout ``data/{split}/{shard}``;
        (b) ``add_time_derived_measurements`` on tz-naive MEDS ``time``.
        Each yields ``(name, ok, detail)``; a wrong result also fails.
        """
        from meds_transforms_spark.operators.add_time_derived import (
            add_time_derived_measurements,
        )

        out = []
        oracle = MedsOracle(self.probe_root)
        try:
            expect_rows = oracle.con.execute("SELECT count(*) FROM meds").fetchone()[0]
            try:
                n = self.read(spark, self.ref_root).count()
                out.append(("reference_layout_read", n == expect_rows, f"rows={n}"))
            except Exception as e:  # the probe's purpose is to record the failure
                out.append(("reference_layout_read", False, _first_line(e)))
            try:
                df = add_time_derived_measurements(
                    self.read(spark, self.probe_root),
                    age={"DOB_code": "MEDS_BIRTH", "age_code": "AGE", "age_unit": "years"},
                )
                n = df.count()
                out.append(("time_derived_age", n == oracle.age_rows_total(), f"rows={n}"))
            except Exception as e:
                out.append(("time_derived_age", False, _first_line(e)))
        finally:
            oracle.close()
        return out


def _first_line(e: Exception) -> str:
    text = str(e).strip().splitlines()
    return f"{type(e).__name__}: {text[0][:200] if text else ''}"


class MedsEtl(MedsBase):
    """``meds-transforms-spark run`` on normalize.yaml: read, pipeline,
    canonical sort, write data and code metadata. One op = one pass."""

    name = "meds_etl"
    #: (subjects, mean timed rows per subject)
    size = (800, 150)
    op_s, settle_ops = 3.3, 2

    def _pass(self, spark, root: str, out_root: str, group: str | None = None) -> None:
        from meds_transforms_spark.plans.pipeline import Pipeline, PipelineConfig, canonical_sort
        from meds_transforms_spark.sources.meds_dataset import MEDSDataset

        data = self.read(spark, root)
        cfg = PipelineConfig.from_yaml(NORMALIZE_YAML)
        with self.spans.span("plans.pipeline_run_call"):
            if group:
                spark.sparkContext.setJobGroup(f"{group}/run", "Pipeline.run")
            out_data, out_meta = Pipeline(spark, cfg).run(data)
        dst = MEDSDataset(spark, out_root)
        with self.spans.span("sources.write"):
            if group:
                spark.sparkContext.setJobGroup(f"{group}/write", "write")
            dst.write_data(canonical_sort(out_data))
            dst.write_code_metadata(out_meta)

    def warm(self, spark) -> None:
        self._pass(spark, self.root, os.path.join(self.work, "warm_out"))

    def op(self, spark, i: int, group: str | None = None) -> int:
        out_root = os.path.join(self.work, "out", f"pass{i:04d}")
        self._pass(spark, self.root, out_root, group)
        self.records.append(out_root)
        return self.input_rows

    def check(self) -> tuple[list[bool], list[str]]:
        oracle = MedsOracle(self.root)
        try:
            want = oracle.normalize_digest()
            oks, notes = [], []
            for out_root in self.records:
                got = oracle.parquet_digest(os.path.join(out_root, "data", "**", "*.parquet"))
                oks.append(got == want and _canonically_sorted(os.path.join(out_root, "data")))
                if not oks[-1]:
                    notes.append(f"{out_root}: got {got}, want {want}")
            return oks, notes
        finally:
            oracle.close()

    def written(self) -> tuple[int, int]:
        return _dir_bytes(self.records[-1]) if self.records else (0, 0)

    def ladder(self, spark):
        from meds_transforms_spark.operators.aggregate_code_metadata import (
            aggregate_code_metadata,
        )
        from meds_transforms_spark.operators.filter_measurements import filter_measurements
        from meds_transforms_spark.operators.filter_subjects import filter_subjects
        from meds_transforms_spark.operators.fit_vocabulary_indices import (
            fit_vocabulary_indices,
        )
        from meds_transforms_spark.operators.normalization import normalization
        from meds_transforms_spark.operators.occlude_outliers import occlude_outliers
        from meds_transforms_spark.plans.pipeline import canonical_sort
        from pyspark.sql import functions as F

        data = _pin(self.read(spark))
        return [
            ("filter_subjects", lambda p: filter_subjects(data, min_events_per_subject=3)),
            ("aggregate_code_metadata", lambda p: aggregate_code_metadata(
                p["filter_subjects"].filter(F.col("split") == "train"), aggregations=STATS_AGGS)),
            ("occlude_outliers", lambda p: occlude_outliers(
                p["filter_subjects"], p["aggregate_code_metadata"], stddev_cutoff=4.0)),
            ("fit_vocabulary_indices", lambda p: fit_vocabulary_indices(
                p["aggregate_code_metadata"])),
            ("normalization", lambda p: normalization(
                p["occlude_outliers"], p["fit_vocabulary_indices"])),
            ("canonical_sort", lambda p: canonical_sort(p["normalization"])),
            ("filter_measurements", lambda p: filter_measurements(
                p["filter_subjects"], p["aggregate_code_metadata"], min_subjects_per_code=20)),
        ]


def _canonically_sorted(data_dir: str) -> bool:
    """Every written file is ordered by (subject_id, time nulls first)."""
    for dirpath, _, names in os.walk(data_dir):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(dirpath, n), columns=["subject_id", "time"])
            if t.num_rows < 2:
                continue
            sid = t.column("subject_id").to_numpy()
            tm = t.column("time").cast("int64").fill_null(np.iinfo(np.int64).min).to_numpy()
            same = sid[1:] == sid[:-1]
            if (sid[1:] < sid[:-1]).any() or (same & (tm[1:] < tm[:-1])).any():
                return False
    return True


def _normalized(text: str) -> str:
    """Python twin of the dedup operators' trim/lower/collapse-space key."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


class CorpusDedup:
    """minhash_lsh_dedup(poly64) + exact_dedup + semantic_dedup(exact) over
    documents and embeddings with planted duplicates. One op = one pass of
    all three."""

    name = "corpus_dedup"
    size = (12_000, 12_000)
    op_s, settle_ops = 3.4, 0
    N_CELLS = 16

    def __init__(self, work: str, seed: int, spans):
        self.work = work
        self.seed = seed
        self.spans = spans
        self.records: list = []
        self.input_rows = 0

    def generate(self) -> None:
        docs, vecs, self.truth = gen.corpus_tables(self.seed, *self.size)
        self.dir = os.path.join(self.work, "corpus")
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(docs, os.path.join(self.dir, "documents.parquet"), row_group_size=4096)
        pq.write_table(vecs, os.path.join(self.dir, "embeddings.parquet"), row_group_size=4096)
        keep = {}
        for i, t in enumerate(docs.column("text").to_pylist()):
            keep.setdefault(_normalized(t), i)
        self.truth["exact_survivors"] = np.array(sorted(keep.values()))
        self.input_rows = docs.num_rows + vecs.num_rows
        # the MEDS probes run in every workload
        self.meds = MedsBase(self.work, self.seed, self.spans)
        self.meds.write_probe_inputs()

    def _inputs(self, spark):
        with self.spans.span("sources.read_call"):
            return (spark.read.parquet(os.path.join(self.dir, "documents.parquet")),
                    spark.read.parquet(os.path.join(self.dir, "embeddings.parquet")))

    def _pass(self, spark):
        from meds_transforms_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_dedup,
            semantic_dedup,
        )

        docs, vecs = self._inputs(spark)
        out = {}
        with self.spans.span("operators.minhash_lsh_dedup"):
            out["minhash"] = minhash_lsh_dedup(docs, hash_fn="poly64").select("doc_id").toArrow()
        with self.spans.span("operators.exact_dedup"):
            out["exact"] = exact_dedup(docs).select("doc_id").toArrow()
        with self.spans.span("operators.semantic_dedup"):
            out["semantic"] = semantic_dedup(
                vecs, n_cells=self.N_CELLS, exact=True
            ).select("vec_id").toArrow()
        return {k: np.sort(v.column(0).to_numpy()) for k, v in out.items()}

    def warm(self, spark) -> None:
        self._pass(spark)

    def op(self, spark, i: int, group: str | None = None) -> int:
        self.records.append(self._pass(spark))
        return self.input_rows

    def check(self) -> tuple[list[bool], list[str]]:
        t = self.truth
        n_docs = self.size[0]
        oks, notes = [], []
        for i, got in enumerate(self.records):
            problems = []
            if not np.array_equal(got["exact"], t["exact_survivors"]):
                problems.append(f"exact_dedup kept {len(got['exact'])}, want {len(t['exact_survivors'])}")
            mh = got["minhash"]
            if np.isin(t["exact_ids"], mh).any():
                problems.append("minhash_lsh_dedup kept a planted exact duplicate")
            if abs(len(mh) - t["n_base_docs"]) > max(5, n_docs // 500):
                problems.append(f"minhash_lsh_dedup kept {len(mh)}, planted {t['n_base_docs']} distinct")
            sem = got["semantic"]
            if np.isin(t["copy_ids"], sem).any() or len(sem) != t["n_base_vecs"]:
                problems.append(f"semantic_dedup kept {len(sem)}, want {t['n_base_vecs']}")
            oks.append(not problems)
            if problems:
                notes.append(f"pass {i}: " + "; ".join(problems))
        return oks, notes

    def probes(self, spark):
        return self.meds.probes(spark)

    def ladder(self, spark):
        from meds_transforms_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_dedup,
            semantic_dedup,
        )

        docs, vecs = (_pin(df) for df in self._inputs(spark))
        return [
            ("minhash_lsh_dedup", lambda p: minhash_lsh_dedup(docs, hash_fn="poly64")),
            ("exact_dedup", lambda p: exact_dedup(docs)),
            ("semantic_dedup", lambda p: semantic_dedup(vecs, n_cells=self.N_CELLS, exact=True)),
        ]


WORKLOADS = {w.name: w for w in (MedsEtl, CorpusDedup)}
