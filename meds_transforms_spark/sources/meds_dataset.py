"""MEDS dataset directory convention as Spark sources/sinks.

Reference layout (src/MEDS_transforms/mapreduce/stage.py:64-77)::

    data/{split}/{shard}.parquet       # event shards
    metadata/codes.parquet             # code dimension table
    metadata/subject_splits.parquet    # subject_id → split
    metadata/dataset.json              # name/version

Spark-first restatement: the ``data/`` tree is ONE logical table. We read
it with a single ``spark.read.parquet`` over the directory; the split is
recovered either from a ``split=`` partition directory (preferred at
scale — Catalyst prunes partitions for train-only stages, replacing the
reference's shard-name-prefix pruning at shard_iteration.py:294-303) or
by joining ``subject_splits.parquet`` (broadcast — it is tiny relative to
the event table).

Shard-level file locking, worker polling, and resume markers
(mapreduce/rwlock.py, mapper.py) are deliberately NOT ported: the Spark
scheduler + parquet commit protocol supply the same guarantees.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meds_transforms_spark.schema import SUBJECT_ID, TIME, ORDER_KEY, TRAIN_SPLIT


def write_parquet(df: DataFrame, path: str, partition_by: Iterable[str] | None = None) -> None:
    """Write parquet, overwriting idempotently (dataframe/write_fn.py:11-16).

    Spark's commit protocol gives the crash-atomicity the reference built
    by hand with lockfiles + footer checks (mapreduce/rwlock.py:20-56).
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(path)


@dataclass
class MEDSDataset:
    """Handle on a MEDS dataset root directory."""

    spark: SparkSession
    root: str

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def metadata_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    # --- event data -----------------------------------------------------
    def data(self, split: str | None = None, with_order_key: bool = False) -> DataFrame:
        """The full event table (optionally restricted to one split).

        Reading ``data/`` as one table with ``basePath`` keeps the
        ``split=`` partition column available for pruning. The reference
        layout ``data/{split}/{shard}.parquet`` has no partition column:
        every shard file under ``data/`` is read, and a split is taken
        through ``subject_splits.parquet``.
        """
        base = self.data_dir
        if _split_partitioned(base):
            df = (
                self.spark.read.option("basePath", base)
                .option("recursiveFileLookup", "false")
                .parquet(base)
            )
        else:
            df = (
                self.spark.read.option("recursiveFileLookup", "true")
                .option("pathGlobFilter", "*.parquet")
                .parquet(base)
            )
        if "split" in df.columns and split is not None:
            df = df.filter(F.col("split") == split)  # partition-pruned scan
        elif split is not None:
            splits = self.subject_splits()
            if splits is not None:
                keep = splits.filter(F.col("split") == split).select(SUBJECT_ID)
                df = df.join(F.broadcast(keep), SUBJECT_ID, "left_semi")
            else:
                raise FileNotFoundError(
                    f"No split partition column and no subject_splits.parquet under {self.root}"
                )
        if with_order_key and ORDER_KEY not in df.columns:
            df = attach_order_key(df)
        return df

    def train_data(self, **kw) -> DataFrame:
        return self.data(split=TRAIN_SPLIT, **kw)

    def write_data(self, df: DataFrame) -> None:
        part = ["split"] if "split" in df.columns else None
        write_parquet(df, self.data_dir, partition_by=part)

    # --- metadata plane -------------------------------------------------
    def code_metadata(self) -> DataFrame | None:
        p = os.path.join(self.metadata_dir, "codes.parquet")
        return self.spark.read.parquet(p) if _exists(p) else None

    def write_code_metadata(self, df: DataFrame) -> None:
        write_parquet(df, os.path.join(self.metadata_dir, "codes.parquet"))

    def subject_splits(self) -> DataFrame | None:
        p = os.path.join(self.metadata_dir, "subject_splits.parquet")
        return self.spark.read.parquet(p) if _exists(p) else None

    def write_subject_splits(self, df: DataFrame) -> None:
        write_parquet(df, os.path.join(self.metadata_dir, "subject_splits.parquet"))

    def shards_json(self) -> dict[str, list[int]] | None:
        """The reference's ``metadata/.shards.json`` shard map
        (``{"train/0": [subject_ids...]}`` — tests/test_generic_input.py:28),
        when present."""
        p = os.path.join(self.metadata_dir, ".shards.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def write_shards_json(
        self,
        subject_splits: DataFrame,
        n_subjects_per_shard: int = 25_000,
        max_subjects: int = 10_000_000,
    ) -> dict[str, list[int]]:
        """Write a reference-compatible ``metadata/.shards.json``.

        Spark's layout doesn't need shard files (the split partition
        column + subject repartitioning carry the same guarantees), but
        reference tooling reads this map — so emit it for interop:
        per split, sorted subject ids chunked into
        ``ceil(n/n_subjects_per_shard)`` near-equal shards, mirroring
        the reference's ``np.array_split`` sizing
        (stages/reshard_to_split/reshard_to_split.py:171-185). Shard
        COMPOSITION is deterministic-by-id here rather than
        permutation-ordered — a layout detail; split membership is the
        semantic contract and matches ``assign_splits`` exactly.

        The ``.shards.json`` format itself is driver-bounded: it is ONE
        json file enumerating every subject id, so writing it requires
        collecting all ids (~16 bytes/subject in this dict). The
        ``max_subjects`` guard (default 1e7 ≈ a few hundred MB of
        driver heap) fails fast with guidance instead of silently
        attempting a multi-GB collect; above it, the interop file stops
        making sense — use the parquet split column, which carries the
        same membership distributed.
        """
        # Bounded probe, not a full count: Spark stops scanning after
        # max_subjects+1 rows, so an over-limit (or lazily expensive)
        # frame fails fast without executing its whole lineage — and an
        # in-limit frame pays at most the rows it is about to collect.
        n = subject_splits.limit(int(max_subjects) + 1).count()
        if n > max_subjects:
            raise ValueError(
                f"write_shards_json: >{max_subjects} subjects exceeds max_subjects="
                f"{max_subjects}. The .shards.json interop format is a "
                "single driver-written json enumerating every subject id "
                "and does not scale to this size — read split membership "
                "from the dataset's split partition column instead, or "
                "raise max_subjects explicitly if the driver has the heap."
            )
        rows = subject_splits.select(SUBJECT_ID, "split").collect()
        by_split: dict[str, list[int]] = {}
        for r in rows:
            by_split.setdefault(r["split"], []).append(int(r[SUBJECT_ID]))
        shards: dict[str, list[int]] = {}
        for split, ids in sorted(by_split.items()):
            ids.sort()
            n_shards = max(1, -(-len(ids) // int(n_subjects_per_shard)))  # ceil
            # np.array_split sizing: first (len % n) chunks get one extra.
            base, extra = divmod(len(ids), n_shards)
            start = 0
            for i in range(n_shards):
                size = base + (1 if i < extra else 0)
                shards[f"{split}/{i}"] = ids[start : start + size]
                start += size
        os.makedirs(self.metadata_dir, exist_ok=True)
        with open(os.path.join(self.metadata_dir, ".shards.json"), "w") as f:
            json.dump(shards, f)
        return shards

    def dataset_metadata(self) -> dict:
        p = os.path.join(self.metadata_dir, "dataset.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def write_dataset_metadata(self, meta: dict) -> None:
        os.makedirs(self.metadata_dir, exist_ok=True)
        with open(os.path.join(self.metadata_dir, "dataset.json"), "w") as f:
            json.dump(meta, f)


def attach_order_key(df: DataFrame) -> DataFrame:
    """Materialize a deterministic per-subject insertion-order key.

    The reference's stable-order guarantee (§2.6 O1/O2: Polars
    maintain_order sorts + row-index round-trips through joins) has no
    Spark primitive. We derive ``__order`` once at ingest as the row
    number within ``(subject_id)`` ordered by ``(time NULLS FIRST)``
    with every remaining orderable column as a tiebreak — time alone
    would leave tied rows (notably a subject's null-time static block)
    numbered by shuffle-arrival order, which is racy across runs.
    With the full-row tiebreak the key is deterministic up to exact
    duplicate rows (interchangeable by definition). Stages then sort by
    ``(subject_id, time, __order)``, which is fully deterministic and
    shuffle-aligned with the subject partitioning.
    """
    from pyspark.sql import Window as W
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _orderable(dt) -> bool:
        # Maps are unorderable at ANY nesting depth (array<map<...>>,
        # struct containing a map) — recurse, mirroring Catalyst's
        # RowOrdering.isOrderable.
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    tiebreak = [
        F.col(c).asc_nulls_first()
        for c in df.columns
        if c not in (SUBJECT_ID, TIME) and _orderable(df.schema[c].dataType)
    ]
    w = W.partitionBy(SUBJECT_ID).orderBy(F.col(TIME).asc_nulls_first(), *tiebreak)
    return df.withColumn(ORDER_KEY, F.row_number().over(w))


def _exists(path: str) -> bool:
    return os.path.exists(path)


def _split_partitioned(data_dir: str) -> bool:
    """True unless ``data_dir`` is a local directory with no ``split=``
    subdirectory (a path this process cannot list keeps the partitioned
    read)."""
    if not os.path.isdir(data_dir):
        return True
    return any(name.startswith("split=") for name in os.listdir(data_dir))


def merge_meds_datasets(
    spark: SparkSession,
    roots: Iterable[str],
    out_root: str,
    refit_metadata: bool = True,
    aggregations: Iterable[str] = (
        "code/n_subjects",
        "code/n_occurrences",
        "values/n_occurrences",
        "values/sum",
        "values/sum_sqd",
    ),
) -> "MEDSDataset":
    """Union several MEDS dataset roots into one (multi-site merges).

    - Event tables union by name (missing optional columns null-padded);
      subject id spaces must already be disjoint — overlapping ids
      across inputs raise, because silently fusing two subjects is the
      worst possible corruption.
    - subject_splits concatenate (disjointness makes this safe).
    - Code metadata is REFIT from the merged train data by default
      (counts/sums from different cohorts cannot be max'd or unioned
      meaningfully); ``refit_metadata=False`` skips the metadata plane
      entirely for caller-managed stats.

    Scale shape: the union is metadata-only planning; the disjointness
    check is one distinct-count aggregate per input pair level —
    implemented as a single groupBy over ids with a source bitmask, one
    shuffle of (subject_id, int).
    """
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    roots = list(roots)
    if len(roots) < 2:
        raise ValueError("merge_meds_datasets needs at least two inputs")
    sources = [MEDSDataset(spark, r) for r in roots]

    datas = []
    for i, src in enumerate(sources):
        datas.append(src.data().withColumn("__src", F.lit(i)))
    merged = datas[0]
    for d in datas[1:]:
        merged = merged.unionByName(d, allowMissingColumns=True)
    # Three consumers follow (overlap check, data write, metadata
    # refit) — pin so the N-way source union executes once instead of
    # once per consumer.
    merged = merged.localCheckpoint(eager=False)

    overlap = (
        merged.groupBy(SUBJECT_ID)
        .agg(F.countDistinct("__src").alias("__n_src"))
        .filter(F.col("__n_src") > 1)
        .limit(5)
        .collect()
    )
    if overlap:
        ids = [r[SUBJECT_ID] for r in overlap]
        raise ValueError(
            f"subject_id spaces overlap across inputs (examples: {ids}); "
            "remap ids before merging — fusing distinct subjects is data "
            "corruption"
        )
    merged = merged.drop("__src")

    out = MEDSDataset(spark, out_root)
    out.write_data(merged)

    # Per-source split assignments: the subject_splits.parquet file
    # when present, else DERIVED from a `split` data column — a merge
    # may mix both conventions, and dropping the column-carrying
    # sources' subjects from the split map (and the train refit) would
    # silently skew the refit statistics.
    splits = []
    for s, d in zip(sources, datas):
        sp = s.subject_splits()
        if sp is None and "split" in d.columns:
            sp = d.select(SUBJECT_ID, "split").distinct()
        if sp is not None:
            splits.append(sp)
    if splits:
        all_splits = splits[0]
        for s in splits[1:]:
            all_splits = all_splits.unionByName(s)
        out.write_subject_splits(all_splits)

    if refit_metadata:
        train = merged
        if splits:
            # Sources with NO split information (no file, no column)
            # contribute no train rows to the refit — deliberate: their
            # membership is unknown, and guessing would contaminate the
            # train statistics.
            keep = all_splits.filter(F.col("split") == TRAIN_SPLIT).select(SUBJECT_ID)
            train = merged.join(F.broadcast(keep), SUBJECT_ID, "left_semi")
        elif "split" in merged.columns:
            train = merged.filter(F.col("split") == TRAIN_SPLIT)
        out.write_code_metadata(
            aggregate_code_metadata(train, aggregations=list(aggregations))
        )

    names = [s.dataset_metadata().get("dataset_name", "?") for s in sources]
    out.write_dataset_metadata(
        {"dataset_name": "+".join(names), "merged_from": names}
    )
    return out
