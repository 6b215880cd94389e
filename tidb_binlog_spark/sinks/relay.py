"""Relay log (write-ahead) + crash-replay flow.

Reference: the drainer can write every txn to a relay log BEFORE
applying it downstream (drainer/relay/relayer.go), and the checkpoint
carries a ``consistent`` flag that is true only after a graceful
shutdown (drainer/checkpoint/checkpoint.go:34-43, file.go:87-133). On
startup, ``feedByRelayLogIfNeed`` (drainer/relay.go:18-73) checks the
flag: if the last run crashed, the relay log is read back, txns at or
below the checkpoint are skipped, the remainder re-applied in SAFE
MODE (relay.go:83 ``ld.SetSafeMode(true)``), and only then does
normal streaming resume.

Spark form: the relay log is a ts-bucketed parquet landing zone
(partitioned by payload.ts_bucket; ``RelayLog.read`` is its one
reader, and its replay scans prune partitions for free), the
consistency flag is a marker file next to it, and safe-mode
re-apply is SnapshotTable.apply_batch's idempotent MERGE (re-applying
rows at or below the stored image's commit_ts is a no-op by
construction — the same convergence REPLACE/DELETE+REPLACE gives the
SQL path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .payload import TS_BUCKET_WIDTH, ts_bucket
from .table_sink import SnapshotTable


class RelayLog:
    """Ts-bucketed WAL of change batches + crash-consistency marker."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _marker(self) -> str:
        return os.path.join(self.root, "CONSISTENT")

    def is_consistent(self) -> bool:
        """True only if the previous run shut down gracefully — a fresh
        (empty) relay dir is consistent by definition."""
        return (not os.path.exists(os.path.join(self.root, "log"))
                or os.path.exists(self._marker()))

    def mark_inconsistent(self) -> None:
        """Called when a run starts applying: from here until
        mark_consistent(), a crash means replay-on-restart."""
        if os.path.exists(self._marker()):
            os.remove(self._marker())

    def mark_consistent(self) -> None:
        """Graceful shutdown: downstream provably holds everything the
        relay holds (checkpoint Save(..., consistent=true))."""
        with open(self._marker(), "w") as f:
            f.write("1")

    def append(self, batch: DataFrame) -> None:
        """WAL write — MUST complete before the downstream apply of the
        same batch starts (relayer.WriteBinlog precedes loader input).

        The batch is clustered by ts_bucket before the partitioned
        write (r14, guide §6 small files): a wide upstream (the order
        gate's shuffle output) otherwise writes one file per (task,
        bucket) — measured ~1000 tasks x ~1000 buckets at the 100x
        dir, 91 s of the 117 s recovery row spent creating tiny files,
        with every replay scan paying the listing/open cost again.
        One shuffle of the batch buys one file per bucket per holding
        task (the write_pb_dump discipline)."""
        (batch
         .withColumn("ts_bucket", ts_bucket())
         .repartition(F.col("ts_bucket"))
         .write.mode("append").partitionBy("ts_bucket")
         .parquet(os.path.join(self.root, "log")))

    def read(self, spark: SparkSession, start_ts: int | None = None,
             stop_ts: int | None = None) -> DataFrame:
        """Replay scan. ``start_ts`` is exclusive (relay.go:131-132
        skips CommitTs <= checkpointTS), ``stop_ts`` inclusive. Bounds
        also derive ts_bucket predicates so the scan prunes WAL
        DIRECTORIES, not just row groups (ts_bucket = commit_ts div
        TS_BUCKET_WIDTH; the bucket bounds below are valid for the
        non-negative commit-ts domain)."""
        df = spark.read.parquet(os.path.join(self.root, "log"))
        w = TS_BUCKET_WIDTH
        if start_ts is not None:
            if start_ts >= 0:
                df = df.where(F.col("ts_bucket") >= start_ts // w)
            df = df.where(F.col("commit_ts") > start_ts)
        if stop_ts is not None:
            if stop_ts >= 0:
                df = df.where(F.col("ts_bucket") <= stop_ts // w)
            df = df.where(F.col("commit_ts") <= stop_ts)
        return df


def feed_by_relay_if_needed(spark: SparkSession, relay: RelayLog,
                            table: SnapshotTable) -> dict:
    """drainer/relay.go feedByRelayLogIfNeed: no-op when the last
    shutdown was graceful; otherwise re-apply relay events ABOVE the
    checkpoint (relay.go:131-132 skips CommitTs <= checkpointTS) through
    the idempotent MERGE, advance the checkpoint, and mark consistent.
    Returns {replayed, checkpoint}."""
    if relay.is_consistent():
        return {"replayed": 0, "checkpoint": table.checkpoint()["commit_ts"]}

    from ..operators import ordering

    ck = table.checkpoint()["commit_ts"]
    pending = relay.read(spark, start_ts=ck).persist()
    try:
        n = pending.count()
        if n:
            table.apply_batch(ordering.ordered_stream(pending)
                              .filter(F.col("op") != "FAKE")
                              .drop("ts_bucket"))
    finally:
        pending.unpersist()
    relay.mark_consistent()
    return {"replayed": int(n),
            "checkpoint": table.checkpoint()["commit_ts"]}
