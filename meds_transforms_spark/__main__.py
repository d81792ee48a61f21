"""CLI: run a YAML pipeline over a MEDS dataset directory.

The Spark equivalent of the reference's ``MEDS_transform-pipeline``
entry point (runner.py:291-370) — minus subprocesses, worker counts,
lockfiles, and polling: one driver program, Spark owns parallelism.

    python -m meds_transforms_spark run pipeline.yaml \
        --input /data/meds_in --output /data/meds_out \
        [--checkpoint-dir /data/ckpt] [--resume] [--code-modifiers m1,m2]

    python -m meds_transforms_spark list-stages
"""

from __future__ import annotations

import argparse
import sys


def _cmd_run(args) -> int:
    from meds_transforms_spark import get_spark
    from meds_transforms_spark.plans.pipeline import Pipeline, PipelineConfig, canonical_sort
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    spark = get_spark("meds_transforms_spark.run")
    cfg = PipelineConfig.from_yaml(args.pipeline)
    if args.override:
        cfg.apply_overrides(args.override)
    src = MEDSDataset(spark, args.input)
    dst = MEDSDataset(spark, args.output)

    data = src.data()
    train = None
    try:
        train = src.train_data()
    except FileNotFoundError:
        pass
    pipe = Pipeline(
        spark,
        cfg,
        checkpoint_dir=args.checkpoint_dir,
        code_modifiers=args.code_modifiers.split(",") if args.code_modifiers else None,
        resume=args.resume,
    )
    splits = src.subject_splits()
    out_data, out_meta = pipe.run(
        data,
        code_metadata=src.code_metadata(),
        train_data=train,
        subject_splits=splits,
    )
    dst.write_data(canonical_sort(out_data))
    if out_meta is not None:
        dst.write_code_metadata(out_meta)
    if splits is not None:
        dst.write_subject_splits(splits)
        # reference-tooling interop; the dataset itself is already
        # complete and valid here, so the shards-json subject cap must
        # not fail the whole run — warn and skip (split membership
        # lives in subject_splits.parquet regardless, and in the split=
        # partitions of output from split-partitioned input)
        try:
            dst.write_shards_json(splits)
        except ValueError as e:
            print(f"WARNING: skipping .shards.json interop file: {e}")
    dst.write_dataset_metadata(src.dataset_metadata())
    print(f"wrote {args.output}")
    return 0


def _cmd_merge(args) -> int:
    from meds_transforms_spark import get_spark
    from meds_transforms_spark.sources.meds_dataset import merge_meds_datasets

    spark = get_spark("meds_transforms_spark.merge")
    merge_meds_datasets(
        spark,
        args.inputs.split(","),
        args.output,
        refit_metadata=not args.no_refit_metadata,
    )
    print(f"merged {args.inputs} -> {args.output}")
    return 0


def _cmd_gen_docs(args) -> int:
    from meds_transforms_spark.docgen import write_stage_docs

    written = write_stage_docs(args.out_dir, examples_root=args.examples_root)
    print(f"wrote {len(written)} pages under {args.out_dir}")
    return 0


def _cmd_curate(args) -> int:
    """Generic corpus curation: read a document table (JSONL drop or
    parquet), run a YAML stage pipeline over it, write parquet. The
    corpus-side sibling of ``run`` — no MEDS dataset convention, any
    frame-in/frame-out stage composes (gopher_quality_filter,
    dedup, dsir_weights, pack_sequences, ...)."""
    import json

    from meds_transforms_spark import get_spark
    from meds_transforms_spark.plans.pipeline import Pipeline, PipelineConfig

    spark = get_spark("meds_transforms_spark.curate")
    if args.format == "jsonl":
        from meds_transforms_spark.sources.jsonl_corpus import (
            ingest_report,
            read_jsonl_corpus,
        )

        docs, quarantine = read_jsonl_corpus(
            spark, args.input, repartition_to=args.repartition
        )
        # one parse of the drop for the audit path: cache the (small)
        # quarantine side before its count + samples, and when writing
        # it, derive the report from the WRITTEN parquet instead —
        # gzip JSONL is unsplittable, so every redundant pass over the
        # raw drop is a serial full decompress
        if args.quarantine:
            quarantine.write.mode("overwrite").parquet(args.quarantine)
            report = ingest_report(spark.read.parquet(args.quarantine))
        else:
            quarantine = quarantine.persist()
            report = ingest_report(quarantine)
            quarantine.unpersist(blocking=False)
        print(json.dumps({"ingest": report}))
    else:
        docs = spark.read.parquet(args.input)
        if args.repartition:
            docs = docs.repartition(args.repartition)
    cfg = PipelineConfig.from_yaml(args.pipeline)
    if args.override:
        cfg.apply_overrides(args.override)
    out, _ = Pipeline(
        spark, cfg, checkpoint_dir=args.checkpoint_dir, resume=args.resume
    ).run(docs)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"wrote {n} rows to {args.output}")
    return 0


def _cmd_compact(args) -> int:
    import json

    from meds_transforms_spark import get_spark
    from meds_transforms_spark.sources.compaction import compact_parquet

    spark = get_spark("meds_transforms_spark.compact")
    report = compact_parquet(
        spark,
        args.path,
        target_mb=args.target_mb,
        sort_cols=args.sort_cols.split(",") if args.sort_cols else None,
    )
    print(json.dumps(report))
    return 0


def _cmd_list_stages(_args) -> int:
    from meds_transforms_spark.operators.base import registered_stages

    for name, stage in sorted(registered_stages().items()):
        kind = "metadata" if stage.is_metadata else stage.kind
        print(f"{name:28s} {kind:9s} {stage.fn.__module__}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="meds_transforms_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run a YAML pipeline over a MEDS dataset")
    run.add_argument("pipeline", help="pipeline YAML path")
    run.add_argument("--input", required=True, help="MEDS dataset root (read)")
    run.add_argument("--output", required=True, help="MEDS dataset root (write)")
    run.add_argument("--checkpoint-dir", default=None)
    run.add_argument("--resume", action="store_true")
    run.add_argument("--code-modifiers", default=None, help="comma-separated")
    run.add_argument(
        "--override",
        "-o",
        action="append",
        default=[],
        help="dotted config override, e.g. -o my_stage.min_events_per_subject=5 "
        "(repeatable; values parse as YAML)",
    )
    run.set_defaults(fn=_cmd_run)

    cur = sub.add_parser(
        "curate", help="run a YAML stage pipeline over a document corpus"
    )
    cur.add_argument("pipeline", help="pipeline YAML path")
    cur.add_argument("--input", required=True, help="JSONL path/glob or parquet dir")
    cur.add_argument("--format", choices=["jsonl", "parquet"], default="jsonl")
    cur.add_argument("--output", required=True, help="output parquet dir")
    cur.add_argument("--quarantine", default=None, help="malformed-line parquet dir")
    cur.add_argument("--repartition", type=int, default=None)
    cur.add_argument("--checkpoint-dir", default=None)
    cur.add_argument("--resume", action="store_true")
    cur.add_argument("--override", "-o", action="append", default=[])
    cur.set_defaults(fn=_cmd_curate)

    comp = sub.add_parser(
        "compact", help="rewrite a parquet dir to ~target-MB files"
    )
    comp.add_argument("--path", required=True)
    comp.add_argument("--target-mb", type=int, default=256)
    comp.add_argument("--sort-cols", default=None, help="comma-separated")
    comp.set_defaults(fn=_cmd_compact)

    ls = sub.add_parser("list-stages", help="list registered stages")
    ls.set_defaults(fn=_cmd_list_stages)

    merge = sub.add_parser("merge", help="union multiple MEDS dataset roots")
    merge.add_argument("--inputs", required=True, help="comma-separated dataset roots")
    merge.add_argument("--output", required=True)
    merge.add_argument("--no-refit-metadata", action="store_true")
    merge.set_defaults(fn=_cmd_merge)

    docs = sub.add_parser("gen-docs", help="generate per-stage Markdown docs")
    docs.add_argument("out_dir")
    docs.add_argument(
        "--examples-root",
        default=None,
        help="stages root to scan for golden example scenarios to embed",
    )
    docs.set_defaults(fn=_cmd_gen_docs)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
