"""Skew report for hot primary keys.

The reference bounds skew implicitly (per-PK compaction runs in one
loader thread per causality group). At 100 TB a hot PK becomes a
straggler task. Spark's partial aggregation already combines a hot
key's rows map-side, and AQE splits skewed joins (it runs inside
``foreachBatch`` too), so the engine ships no salting operator; what
is left is the report that says which keys are hot and how far a
salt would spread them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_advisor(changes: DataFrame,
                 target_rows_per_task: int = 64,
                 max_salts: int = 32) -> DataFrame:
    """Skew-mitigation advisor: turns the hot-key report into an
    actionable salting plan. For every (db, tbl, pk) whose write count
    exceeds ``target_rows_per_task``, recommend
    ``n_salts = min(max_salts, ceil(n_writes / target))`` and report
    the projected per-task row bound after salting
    (``ceil(n_writes / n_salts)``) — the number an operator compares
    against the straggler budget when sizing a salted job of their own.

    All arithmetic is exact integer (ceil via ``(n + d - 1) DIV d``).
    Scale shape: one map-side-combinable key aggregate; the output is
    only the flagged tail (hot keys), bounded regardless of input
    size. At 100 TB this is the feedback loop that keeps per-PK
    compaction tasks inside the shuffle-partition budget.
    """
    t = int(target_rows_per_task)
    m = int(max_salts)
    per_key = (changes.filter(F.col("op").isin("I", "U", "D"))
               .groupBy("db", "tbl", "pk")
               .agg(F.count(F.lit(1)).alias("n_writes")))
    return (per_key.filter(F.col("n_writes") > t)
            .withColumn("n_salts",
                        F.expr(f"LEAST(CAST({m} AS BIGINT), "
                               f"(n_writes + {t} - 1) DIV {t})"))
            .withColumn("projected_rows_per_task",
                        F.expr("(n_writes + n_salts - 1) DIV n_salts")))
