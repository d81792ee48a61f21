"""YAML pipeline → ordered stage composition.

Re-expresses the reference's pipeline system (configs/pipeline.py:222-513,
runner.py:291-370) without its process/Hydra machinery:

- A pipeline is an ordered list of stage specs (name + config), parsed
  from YAML or built programmatically.
- The only "planner" the reference has — ``_resolve_stages``
  (configs/pipeline.py:381-438) wiring each stage's data/metadata inputs
  to the previous producer — becomes in-memory DataFrame handoff: data
  stages thread the event frame, metadata stages thread the codes frame;
  metadata stages read the *train-only* slice (":415-428" forces
  train_only for metadata stages).
- Per-stage parquet checkpointing + ``_SUCCESS``-marker resume replaces
  the reference's ``.done``-file resume (runner.py:330-369). Checkpoints
  keep the "data is the interface" debuggability without forcing every
  stage to disk when disabled.
- A metadata stage's output is computed once at its boundary, as the
  reference's ``codes.parquet`` is: on disk with checkpointing, pinned
  in the block manager (``localCheckpoint``) without it. ``run``
  therefore fits the metadata plane (its shuffle stages run at call
  time); the data plane stays lazy until the caller's first action.

No subprocesses, no file locks, no worker polling — the Spark scheduler
owns parallelism.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import get_stage
from meds_transforms_spark.schema import ORDER_KEY, SUBJECT_ID, TIME
from meds_transforms_spark.sources.meds_dataset import write_parquet


@dataclass
class StageSpec:
    name: str
    config: dict = field(default_factory=dict)
    #: aliased stage (configs/pipeline.py:440-486 ``_base_stage``): the
    #: pipeline-local name differs from the registered operator, letting
    #: one operator appear twice under distinct names/configs (e.g.
    #: ``count_codes`` + ``count_subjects`` both over
    #: ``aggregate_code_metadata``).
    base_stage: str | None = None
    #: match-revise wrapper (compute_modes/match_revise.py): when present,
    #: the stage runs per matched slice with per-slice config overrides.
    match_revise: list | None = None
    match_revise_mode: str = "match_and_revise"

    @property
    def resolved_name(self) -> str:
        """The registered operator this spec runs (pipeline.py:440-463)."""
        return self.base_stage or self.name

    @classmethod
    def parse(cls, item: Any) -> "StageSpec":
        if isinstance(item, str):
            return cls(name=item)
        if isinstance(item, dict):
            if len(item) == 1 and not ("stage" in item or "name" in item):
                name, cfg = next(iter(item.items()))
            else:
                # `- stage: foo` / `- name: foo` (with or without extra
                # keys) — without this carve-out the single-key branch
                # would read name='stage', cfg='foo' and crash.
                name = item["stage"] if "stage" in item else item["name"]
                cfg = {k: v for k, v in item.items() if k not in ("stage", "name")}
            cfg = dict(cfg or {})
            base = cfg.pop("_base_stage", None)
            mr = cfg.pop("_match_revise", None)
            mode = cfg.pop("_match_revise_mode", "match_and_revise")
            return cls(
                name=name,
                config=cfg,
                base_stage=base,
                match_revise=mr,
                match_revise_mode=mode,
            )
        raise ValueError(f"Unparseable stage spec: {item!r}")


@dataclass
class PipelineConfig:
    stages: list[StageSpec]
    additional_params: dict = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path_or_text: str) -> "PipelineConfig":
        """Parse a pipeline from a YAML file path, a ``pkg://`` URI
        (reference ``utils.py:10-33`` / ``configs/pipeline.py:228``), or
        inline YAML text."""
        import yaml

        from meds_transforms_spark.utils import resolve_pkg_path

        path_or_text = resolve_pkg_path(path_or_text)
        if os.path.exists(path_or_text):
            with open(path_or_text) as f:
                raw = yaml.safe_load(f)
        else:
            raw = yaml.safe_load(path_or_text)
        stages = [StageSpec.parse(s) for s in raw.get("stages", [])]
        extra = {k: v for k, v in raw.items() if k != "stages"}
        return cls(stages=stages, additional_params=extra)

    def stage_by_name(self, name: str) -> StageSpec:
        for s in self.stages:
            if s.name == name:
                return s
        raise ValueError(f"Stage {name!r} not in pipeline configuration!")

    def apply_overrides(self, overrides: list[str]) -> "PipelineConfig":
        """Apply dotted CLI overrides (the Spark stand-in for the
        reference's Hydra override grammar, runner.py:291-370):

        - ``<stage_name>.<dotted.path>=<yaml value>`` targets that
          (possibly aliased) stage's config;
        - ``<key>=<yaml value>`` with no known stage prefix targets
          ``additional_params``.

        Values parse as YAML (``5`` int, ``[a,b]`` list, ``null`` None).
        Returns self for chaining.
        """
        import yaml

        stage_names = {s.name for s in self.stages}
        for ov in overrides:
            if "=" not in ov:
                raise ValueError(f"Override {ov!r} is not of the form key=value")
            key, _, raw_val = ov.partition("=")
            val = yaml.safe_load(raw_val) if raw_val != "" else None
            parts = key.split(".")
            if parts[0] in stage_names and len(parts) > 1:
                target = self.stage_by_name(parts[0]).config
                path = parts[1:]
            else:
                target = self.additional_params
                path = parts
            for p in path[:-1]:
                target = target.setdefault(p, {})
                if not isinstance(target, dict):
                    raise ValueError(
                        f"Override {ov!r} descends through non-dict value at {p!r}"
                    )
            target[path[-1]] = val
        return self


class Pipeline:
    """Execute a stage list over a MEDS dataset (or bare DataFrames)."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        checkpoint_dir: str | None = None,
        code_modifiers: list[str] | None = None,
        resume: bool = False,
    ):
        self.spark = spark
        self.config = config
        self.checkpoint_dir = checkpoint_dir
        self.code_modifiers = list(code_modifiers or [])
        #: Resume semantics (runner.py:330-369 ``.done`` markers → Spark's
        #: ``_SUCCESS`` marker): when on, a stage whose checkpoint already
        #: committed is read back instead of recomputed.
        self.resume = resume
        #: Per-stage observability, populated by :meth:`run` when a
        #: checkpoint_dir is set: ``[{stage, index, kind, rows, bytes,
        #: files, resumed}]``. Row/byte counts come from the committed
        #: checkpoint's parquet FOOTERS (pure metadata reads — no extra
        #: Spark job, no second scan), so at 100 TB the metrics are
        #: free; without checkpointing nothing is counted (counting
        #: would force an extra action per stage) and this stays [].
        self.last_run_metrics: list[dict] = []

    def run(
        self,
        data: DataFrame,
        code_metadata: DataFrame | None = None,
        train_data: DataFrame | None = None,
        subject_splits: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Returns (final data frame, final code metadata frame).

        Train-only contract (configs/pipeline.py:415-428): a metadata
        stage reads the *train split of the current data frame* — not a
        train frame captured before earlier data stages ran, and never
        tuning/held-out rows. The train slice is derived fresh at each
        metadata stage from, in order of preference: a ``split`` column
        on the data (partition-pruned filter, free), ``subject_splits``
        (subject_id→split dimension, semi-join), or the distinct
        subjects of ``train_data`` (split membership is static per
        subject, so the id set stays valid after row-filtering stages).
        With no split information at all, the full frame is used —
        that's the single-split dataset case, not a leak.

        Jobs: each metadata stage's codes table is pinned where it is
        produced (see :meth:`_checkpoint`), so ``run`` starts the shuffle
        stages of the metadata plane (3 jobs over ``normalize.yaml`` on
        the test fixture) and every consumer — broadcasts, vocabulary
        rank, metadata write — reads that one copy. The data frame stays a lazy plan. A pinned
        plan's final stage also stays lazy, so the vocabulary's
        duplicate-key and ``max_rows`` errors surface at the first action.
        """
        import inspect

        self.last_run_metrics = []

        def train_slice(df: DataFrame) -> DataFrame:
            if "split" in df.columns:
                return df.filter(F.col("split") == "train")
            if subject_splits is not None:
                keep = subject_splits.filter(F.col("split") == "train").select(
                    SUBJECT_ID
                )
                return df.join(keep, SUBJECT_ID, "left_semi")
            if train_data is not None:
                keep = train_data.select(SUBJECT_ID).distinct()
                return df.join(keep, SUBJECT_ID, "left_semi")
            return df

        for i, spec in enumerate(self.config.stages):
            stage = get_stage(spec.resolved_name)
            cfg = dict(spec.config)
            params = list(inspect.signature(stage.fn).parameters)
            if "code_modifiers" in params and self.code_modifiers:
                cfg.setdefault("code_modifiers", self.code_modifiers)
            # code_metadata as a NON-first parameter = a dimension-table
            # input to inject (first parameter is the stage's main input).
            needs_meta = "code_metadata" in params[1:]
            if needs_meta and "code_metadata" not in cfg:
                if code_metadata is None:
                    raise ValueError(
                        f"Stage {spec.name!r} needs code metadata but none exists yet"
                    )
                cfg["code_metadata"] = code_metadata

            done = self._resume_path(i, spec.name)
            if done is not None:
                if stage.is_metadata:
                    code_metadata = self.spark.read.parquet(done)
                else:
                    data = self.spark.read.parquet(done)
                self._record_metrics(done, i, spec.name, stage.is_metadata, True)
                continue

            if stage.is_metadata:
                # Metadata stages consume train-only data
                # (configs/pipeline.py:415-428) and produce the codes table.
                source = (
                    code_metadata
                    if spec.resolved_name == "fit_vocabulary_indices"
                    else train_slice(data)
                )
                new_meta = stage(source, **cfg)
                from meds_transforms_spark.operators.aggregate_code_metadata import (
                    join_and_replace,
                )

                keys = ["code", *self.code_modifiers]
                code_metadata = (
                    new_meta
                    if code_metadata is None or spec.resolved_name == "fit_vocabulary_indices"
                    else join_and_replace(new_meta, code_metadata, keys)
                )
                code_metadata = self._checkpoint(
                    code_metadata, i, spec.name, is_metadata=True
                )
            else:
                if spec.match_revise:
                    from meds_transforms_spark.operators.match_revise import match_revise

                    fn = lambda d, **c: stage(d, **{**cfg, **c})  # noqa: E731
                    data = match_revise(
                        data, fn, spec.match_revise, mode=spec.match_revise_mode
                    )
                else:
                    data = stage(data, **cfg)
                data = self._checkpoint(data, i, spec.name, is_metadata=False)
        return data, code_metadata

    def _checkpoint(
        self, df: DataFrame, idx: int, name: str, is_metadata: bool
    ) -> DataFrame:
        if not self.checkpoint_dir:
            # Pin a codes table: several consumers read it. A data frame
            # that a metadata stage fits on has two consumers too (the
            # fit and the next data stage both re-scan it), but stays
            # lazy: a localCheckpoint drops its hashpartitioning, so the
            # write coalesces to one task, and persist() would serve the
            # next run's identical plan from the old cache.
            return df.localCheckpoint(eager=False) if is_metadata else df
        path = os.path.join(self.checkpoint_dir, f"{idx:02d}_{name}")
        write_parquet(df, path)
        self._record_metrics(path, idx, name, is_metadata, False)
        return self.spark.read.parquet(path)

    def _record_metrics(
        self, path: str, idx: int, name: str, is_metadata: bool, resumed: bool
    ) -> None:
        rows = nbytes = files = 0
        try:
            import pyarrow.parquet as pq

            for fname in os.listdir(path):
                if not fname.endswith(".parquet"):
                    continue
                fp = os.path.join(path, fname)
                md = pq.ParquetFile(fp).metadata
                rows += md.num_rows
                nbytes += os.path.getsize(fp)
                files += 1
        except Exception:
            return
        self.last_run_metrics.append(
            {
                "stage": name,
                "index": idx,
                "kind": "metadata" if is_metadata else "data",
                "rows": rows,
                "bytes": nbytes,
                "files": files,
                "resumed": resumed,
            }
        )

    def _resume_path(self, idx: int, name: str) -> str | None:
        """Committed checkpoint path for this stage, if resumable."""
        if not (self.resume and self.checkpoint_dir):
            return None
        path = os.path.join(self.checkpoint_dir, f"{idx:02d}_{name}")
        return path if os.path.exists(os.path.join(path, "_SUCCESS")) else None


def canonical_sort(df: DataFrame) -> DataFrame:
    """The MEDS output order contract: (subject_id, time NULLS FIRST,
    __order) — the explicit-tiebreak replacement for Polars stable sorts
    (SURVEY §7 hard parts).

    Subject-partitioned with per-partition order: each subject's rows
    are contiguous and ordered, which is what every consumer needs.

    A ``split`` column leads the sort: a subject sits in one split, so
    each split's rows keep the contract, and a write partitioned by
    split (``MEDSDataset.write_data``) finds its required order already
    met. Otherwise Spark's write adds its own sort on ``split`` and the
    optimizer drops this one as redundant, leaving the files unordered."""
    cols = [F.col(SUBJECT_ID), F.col(TIME).asc_nulls_first()]
    if "split" in df.columns:
        cols.insert(0, F.col("split"))
    if ORDER_KEY in df.columns:
        cols.append(F.col(ORDER_KEY))
    return df.repartition(SUBJECT_ID).sortWithinPartitions(*cols)
