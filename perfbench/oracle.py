"""DuckDB replays of every checked operation, run outside the timed phase.

Generated ``numeric_value``s are multiples of 1/16 below 256 in
magnitude, so every sum, square and sum of squares the pipeline computes
is exact in float32/float64 whatever the summation order: the replays
compare bit-for-bit, not within a tolerance.
"""

from __future__ import annotations

import duckdb

# count(*) and an order-free content hash of (subject_id, time, code,
# numeric_value): equal multisets of rows give equal pairs. Values hash
# through their text form so every NaN bit pattern hashes alike.
_ROW_HASH = """
    SELECT count(*) AS n,
           coalesce(sum(hash(subject_id, epoch_us("time"), code,
                             CAST(numeric_value AS VARCHAR))::HUGEINT), 0) AS h
    FROM ({rows})
"""


class MedsOracle:
    """Replays over one MEDS dataset written by :func:`gen.write_meds`."""

    def __init__(self, root: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"""CREATE TABLE meds AS SELECT subject_id, "time", code, numeric_value, split
                FROM read_parquet('{root}/data/*/*.parquet', hive_partitioning = true)"""
        )

    def digest(self, rows_sql: str) -> tuple:
        return tuple(self.con.execute(_ROW_HASH.format(rows=rows_sql)).fetchone())

    def parquet_digest(self, path_glob: str) -> tuple:
        return self.digest(
            f"""SELECT subject_id, "time", code, numeric_value
                FROM read_parquet('{path_glob}', union_by_name = true)"""
        )

    # --- meds_etl: normalize.yaml --------------------------------------------
    NORMALIZE = """
        WITH d1 AS (
          SELECT * FROM (
            SELECT *, count(DISTINCT "time") OVER w
                      + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END) OVER w AS n_ev
            FROM meds WINDOW w AS (PARTITION BY subject_id)
          ) WHERE n_ev >= 3
        ),
        stats AS (
          SELECT code, count(numeric_value) AS n,
                 coalesce(sum(numeric_value), 0.0) AS s,
                 coalesce(sum(numeric_value * numeric_value), 0.0) AS s2
          FROM d1 WHERE split = 'train' GROUP BY code
        ),
        st AS (
          SELECT code, row_number() OVER (ORDER BY code) AS vocab,
                 CASE WHEN n > 0 THEN s / n END AS mean,
                 CASE WHEN n > 0 THEN s2 / n END AS ex2
          FROM stats
        ),
        st2 AS (
          SELECT *, ex2 - mean * mean AS var FROM st
        ),
        d2 AS (
          SELECT subject_id, "time", d1.code,
                 CASE WHEN numeric_value IS NOT NULL AND mean IS NOT NULL
                           AND abs(numeric_value - mean) <= 4.0 * sqrt(greatest(var, 0.0))
                      THEN numeric_value END AS numeric_value
          FROM d1 LEFT JOIN st2 ON d1.code = st2.code
        ),
        z AS (
          SELECT d2.subject_id, d2."time", st2.vocab,
                 d2.numeric_value - st2.mean AS diff,
                 CASE WHEN st2.var < 0 THEN 'nan'::DOUBLE ELSE sqrt(st2.var) END AS std,
                 d2.numeric_value AS v, st2.mean AS mean
          FROM d2 JOIN st2 ON d2.code = st2.code
        )
        SELECT subject_id, "time", CAST(vocab AS BIGINT) AS code,
               CAST(CASE WHEN v IS NULL OR mean IS NULL OR std IS NULL THEN NULL
                         WHEN std <> 0 THEN diff / std
                         WHEN isnan(diff) THEN 'nan'::DOUBLE
                         WHEN diff > 0 THEN 'inf'::DOUBLE
                         WHEN diff < 0 THEN '-inf'::DOUBLE
                         ELSE 'nan'::DOUBLE END AS REAL) AS numeric_value
        FROM z
    """

    def normalize_digest(self) -> tuple:
        return self.digest(self.NORMALIZE)

    # --- probe (b): add_time_derived_measurements(age) ------------------------
    def age_rows_total(self) -> int:
        return self.con.execute(
            """WITH dob AS (SELECT subject_id, min("time") AS dob FROM meds
                            WHERE contains(code, 'MEDS_BIRTH') GROUP BY subject_id)
               SELECT (SELECT count(*) FROM meds) + count(*) FROM (
                 SELECT DISTINCT m.subject_id, m."time" FROM meds m JOIN dob USING (subject_id)
                 WHERE m."time" IS NOT NULL AND m."time" > dob.dob)"""
        ).fetchone()[0]

    def close(self) -> None:
        self.con.close()
