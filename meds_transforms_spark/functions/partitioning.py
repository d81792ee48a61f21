"""Partitioning & skew utilities — explicit knobs beyond AQE.

AQE's skew-join splitting handles most runtime skew; these helpers cover
what it can't: a skewed *aggregation* key (one ultra-common code /
token / bucket) and a file layout clustered on two columns at once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_distinct_count(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    salt_from_value: bool = True,
) -> DataFrame:
    """Skew-proof COUNT(DISTINCT x) per key.

    Salt derived from the *value being counted* (hash mod buckets) keeps
    each distinct value in exactly one bucket, so per-bucket distinct
    counts sum exactly — no double counting, no approximation.
    """
    keys = list(keys)
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(64)) if salt_from_value else F.lit(0)
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.countDistinct(distinct_col).alias("__d"))
    )
    return partial.groupBy(*keys).agg(F.sum("__d").alias("n_distinct"))


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative bucket indexes.

    Bit b of ``x`` lands at position 2b, of ``y`` at 2b+1 — a pure
    shift/or projection (whole-stage codegen), 2·bits ≤ 62 output bits.
    """
    if bits * 2 > 62:
        raise ValueError("bits*2 must fit a signed long")
    xb = F.col(x) if isinstance(x, str) else x
    yb = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + (F.getbit(xb.cast("long"), F.lit(b)).cast("long") * F.lit(1 << (2 * b)))
            + (F.getbit(yb.cast("long"), F.lit(b)).cast("long") * F.lit(1 << (2 * b + 1)))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 12,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered along a 2-D Z-order curve.

    Rows close on BOTH ``cols`` land in the same files, so parquet
    row-group min/max statistics become selective for predicates on
    EITHER column — the layout trick behind Delta/Iceberg Z-ordering,
    here as a plain write utility: bucketize each column uniformly over
    its [min, max] (one tiny agg job), interleave bucket bits
    (``zorder_value``), then ONE ``repartitionByRange`` + in-partition
    sort on the z-value. Cost at 100 TB = a range shuffle, identical to
    any sorted write; benefit = multi-dimensional file pruning.

    Uniform bucketing keeps the hot path codegen (no per-row search of
    quantile arrays); heavily skewed columns simply get uneven curve
    coverage — acceptable for layout, and rank-based bucketing can be
    layered upstream if needed.
    """
    c1, c2 = cols
    mm = df.agg(
        F.min(c1).alias("min1"), F.max(c1).alias("max1"),
        F.min(c2).alias("min2"), F.max(c2).alias("max2"),
    ).collect()[0]
    n_buckets = (1 << bits) - 1

    def bucket(c, lo, hi):
        if hi is None or lo is None or hi == lo:
            return F.lit(0).cast("long")
        scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        return F.least(
            F.greatest(F.floor(scaled * n_buckets).cast("long"), F.lit(0)),
            F.lit(n_buckets),
        )

    z = zorder_value(
        bucket(c1, mm["min1"], mm["max1"]), bucket(c2, mm["min2"], mm["max2"]), bits
    )
    out = df.withColumn("__z", z)
    parts = [n_files] if n_files else []
    (
        out.repartitionByRange(*parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
