from meds_transforms_spark.sources.meds_dataset import MEDSDataset, write_parquet

__all__ = ["MEDSDataset", "write_parquet"]
