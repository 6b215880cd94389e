"""Partitioned-table resolution: physical partition id -> logical table.

Reference: TiDB assigns every table *partition* its own physical table
id; binlog mutations arrive tagged with the PHYSICAL id
(TableMutation.TableId), and the drainer's schema catalog resolves it
to the logical table the downstream actually has (the vendored TiDB
schema meta does the mapping; tests/partition/run.sh exercises range +
hash partitions, ADD PARTITION and TRUNCATE TABLE on a partitioned
table end-to-end). Partition DDL re-binds ids:

- ADD PARTITION      -> a brand-new physical id joins the logical table;
- TRUNCATE PARTITION -> the partition gets a NEW physical id; binlogs
  still in flight for the OLD id belong to the pre-truncate incarnation
  and must be skipped (same invariant as truncated tables,
  drainer/syncer.go:744-762);
- DROP PARTITION     -> the id is retired; late binlogs are skipped.

Spark-first: the catalog is a tiny driver-side dict -> broadcast
dimension (physical_id, logical_tbl, partition_name); resolution is a
broadcast left join + one CASE — no shuffle of the stream, scales to
any corpus size because the dimension is schema metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class PartitionCatalog:
    """Current physical-id bindings per logical table, maintained by
    replaying partition DDL in commit-ts order (the catalog analog of
    drainer/schema.go's id->TableInfo map for partitioned tables)."""

    def __init__(self) -> None:
        # physical_id -> (logical_tbl, partition_name)
        self.bindings: dict[int, tuple[str, str]] = {}
        # physical_id -> commit_ts at which the id stopped being live
        self.retired: dict[int, int] = {}

    def bind(self, tbl: str, partition: str, physical_id: int) -> None:
        self.bindings[physical_id] = (tbl, partition)

    def _find(self, tbl: str, partition: str) -> int | None:
        for pid, (t, p) in self.bindings.items():
            if t == tbl and p == partition:
                return pid
        return None

    def add_partition(self, tbl: str, partition: str, physical_id: int,
                      commit_ts: int) -> None:
        self.bind(tbl, partition, physical_id)

    def truncate_partition(self, tbl: str, partition: str,
                           new_physical_id: int, commit_ts: int) -> None:
        old = self._find(tbl, partition)
        if old is not None:
            del self.bindings[old]
            self.retired[old] = commit_ts
        self.bind(tbl, partition, new_physical_id)

    def drop_partition(self, tbl: str, partition: str,
                       commit_ts: int) -> None:
        old = self._find(tbl, partition)
        if old is not None:
            del self.bindings[old]
            self.retired[old] = commit_ts

    def dimension(self, spark: SparkSession) -> DataFrame:
        """The broadcastable (physical_id, logical_tbl, partition_name)
        dimension of LIVE bindings."""
        from ..localrel import local_df
        rows = [(pid, t, p) for pid, (t, p) in sorted(self.bindings.items())]
        return local_df(
            spark,
            rows, "physical_id long, logical_tbl string, partition_name string")


def resolve_partitions(changes: DataFrame, dim: DataFrame,
                       id_col: str = "physical_id") -> DataFrame:
    """Stamp each mutation with its logical table via the live binding
    dimension. Unresolved ids (retired by TRUNCATE/DROP PARTITION, or
    never bound) are tagged 'orphan' — the skip/audit split the
    reference applies to unknown table ids (syncer.go:744-762) —
    instead of silently dropped, so callers can count them.
    """
    j = changes.join(F.broadcast(dim), id_col, "left")
    return j.withColumn(
        "partition_status",
        F.when(F.col("logical_tbl").isNull(), F.lit("orphan"))
         .otherwise(F.lit("ok")))

