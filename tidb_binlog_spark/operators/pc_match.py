"""Prewrite/Commit (P/C) binlog matching — the pump "sorter".

Reference: pump/storage/sorter.go:89-239 pairs each Prewrite binlog
with its Commit or Rollback by start_ts, parking unmatched P entries;
pump/storage/storage.go:1114-1258 then feeds the P payload into the C
entity on pull. Unresolved prewrites go to the txn-status resolver
(storage.go:431-558).

Spark-first: an equi-join on start_ts (broadcast or sort-merge as
Catalyst chooses), served by the ``cdc_pc_match`` registry query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_pc(prewrites: DataFrame, commits: DataFrame) -> DataFrame:
    """Committed events with their payload: inner join P×C on start_ts.

    `prewrites`: (start_ts, payload cols...); `commits`: (start_ts,
    commit_ts, is_rollback). Rollbacks drop the P (sorter.go:196-214).
    """
    c = commits.filter(~F.col("is_rollback")).select("start_ts", "commit_ts")
    return prewrites.join(c, "start_ts", "inner")


def unmatched_prewrites(prewrites: DataFrame, commits: DataFrame) -> DataFrame:
    """Parked P entries: no C (commit or rollback) arrived yet. These are
    what the txn-status resolver would query TiKV about; they also pin
    the checkpoint (can't advance past the earliest pending start_ts)."""
    return prewrites.join(commits.select("start_ts"), "start_ts", "left_anti")


def rolled_back(prewrites: DataFrame, commits: DataFrame) -> DataFrame:
    """P entries whose txn rolled back — dropped, never emitted."""
    rb = commits.filter(F.col("is_rollback")).select("start_ts")
    return prewrites.join(rb, "start_ts", "left_semi")
