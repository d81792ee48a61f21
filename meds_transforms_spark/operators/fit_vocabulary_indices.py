"""fit_vocabulary_indices — dense 1-based lexicographic code IDs.

Reference semantics (src/MEDS_transforms/stages/fit_vocabulary_indices/
fit_vocabulary_indices.py:108-195): assign each unique (code, *modifiers)
a dense 1-based index in lexicographic order WITHOUT reordering the
table (argsort-of-argsort trick, :164-195); index 0 is reserved for
"UNK". The key set must be unique (:98-105).

Spark plan: the code table is vocabulary-sized (broadcast downstream),
so the rank is a single-partition sort + Arrow index pass
(ids.attach_dense_rank_bounded), which also rejects duplicate keys and
enforces a hard max_rows bound. No argsort trick needed: the dense
index in the total order IS the rank, attached without reordering the
caller's frame semantics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.ids import attach_dense_rank_bounded
from meds_transforms_spark.schema import CODE


@register_stage("fit_vocabulary_indices", is_metadata=True)
def fit_vocabulary_indices(
    code_metadata: DataFrame,
    code_modifiers: Sequence[str] = (),
    max_rows: int | None = 5_000_000,
) -> DataFrame:
    """Vocab indices are a total order over the code dimension table —
    small by contract (it is broadcast downstream by normalization),
    enforced by ``max_rows`` (``None`` lifts the bound). The ranking
    uses ids.attach_dense_rank_bounded: one exchange + one in-partition
    sort + one Arrow index pass — no WindowExec, no driver job at call
    time. Duplicate ``(code, *code_modifiers)`` keys and a table past
    ``max_rows`` both raise when the result is first computed, as a
    Python-worker error. A table that outgrows max_rows needs
    ids.assign_stable_ids instead of a bigger limit.
    """
    # nulls first matches the reference's nulls_last=False argsort.
    ranked = attach_dense_rank_bounded(
        code_metadata,
        order_cols=[CODE, *code_modifiers],
        id_name="code/vocab_index",
        start=1,
        max_rows=max_rows,
    )
    # keep INT as the schema contract (indices are bounded by max_rows)
    return ranked.withColumn(
        "code/vocab_index", F.col("`code/vocab_index`").cast("int")
    )
