"""Safe-mode rewrite + PK-changing-update split.

Reference:
- safe mode rewrites INSERT -> REPLACE and UPDATE -> DELETE(old) +
  REPLACE(new) so re-applying a batch after restart is idempotent
  (pkg/loader/executor.go:407-443; auto-on for the first 5 minutes,
  drainer/syncer.go:180-197);
- an UPDATE that changes the primary key is always split into
  DELETE(old key) + INSERT(new key) before compaction
  (pkg/loader/merge.go:47-67).

Spark-first: both stay narrow (no shuffle). The safe-mode rewrite is one
``explode`` of ``sub_seq`` over the input's own partitions (one row for
I and D, two for U); the PK split is a union of two narrow selects.
Ordering is preserved by (commit_ts, seq, sub_seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SafeModeWindow:
    """Auto safe-mode window after (re)start — drainer/syncer.go:180-197
    forces safe mode ON for the first 5 minutes after the drainer
    starts (covering re-application of possibly-already-applied events
    after a crash), then reverts to the configured flag
    (arbiter/server.go:34 does the same for the Kafka applier).

    ``active()`` is evaluated per micro-batch by the apply stream; the
    clock is injectable so tests can step time deterministically.
    """

    def __init__(self, duration_s: float = 300.0, configured: bool = False,
                 clock=None):
        import time as _time
        self._clock = clock if clock is not None else _time.monotonic
        self.duration_s = duration_s
        self.configured = configured
        self._start = self._clock()

    def active(self) -> bool:
        return self.configured or \
            (self._clock() - self._start) < self.duration_s


def split_pk_change(changes: DataFrame,
                    old_pk_col: str = "old_pk") -> DataFrame:
    """Split U rows whose PK changed into D(old_pk) + I(new pk).

    Input rows carry ``pk`` (new) and ``old_pk`` (non-null only when the
    update moved the key). Emits ``sub_seq`` (0 = delete half, 1 =
    insert half) to keep intra-statement order under later sorts.
    """
    moved = F.col(old_pk_col).isNotNull() & (F.col(old_pk_col) != F.col("pk"))

    untouched = changes.filter(~moved).withColumn("sub_seq", F.lit(0))
    delete_half = (changes.filter(moved)
                   .withColumn("pk", F.col(old_pk_col))
                   .withColumn("op", F.lit("D"))
                   .withColumn("sub_seq", F.lit(0)))
    insert_half = (changes.filter(moved)
                   .withColumn("op", F.lit("I"))
                   .withColumn("sub_seq", F.lit(1)))
    return untouched.unionByName(delete_half).unionByName(insert_half)


def safe_mode_rewrite(changes: DataFrame) -> DataFrame:
    """Rewrite ops for idempotent re-apply: I -> R(eplace); U -> D + R.

    Returned stream is directly applicable by a dumb sink in order:
    REPLACE upserts, DELETE removes — replaying the same batch twice
    converges to the same table state.

    The rewrite is one pass: ``sub_seq`` explodes to [0] for I and D
    and to [0, 1] for U, and every other op (FAKE, DDL) gets no array
    and so no row. The output keeps the input's partitioning, column
    order and types; ``sub_seq`` is replaced in place when present,
    else appended.
    """
    op = F.col("op")
    sub_seq = (F.when(op == "U", F.array(F.lit(0), F.lit(1)))
                .when(op.isin("I", "D"), F.array(F.lit(0))))
    return (changes.withColumn("sub_seq", F.explode(sub_seq))
            .withColumn("op", F.when((op == "I") | (F.col("sub_seq") == 1),
                                     F.lit("R"))
                               .when(op == "U", F.lit("D"))
                               .otherwise(op)))
