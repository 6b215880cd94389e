"""Shared harness helpers (ADVICE r11: the shuffle-partition sizing
rule lived in two copies — tools/scale_proof.py and
tools/stream_scale_check.py — and could drift)."""

from __future__ import annotations

from tidb_binlog_spark.session import pow2_partitions


def shuffle_partitions_for(rows: int) -> int:
    """Deployment-sizing rule (VERDICT r10 item 7): shuffle partitions
    proportional to input rows — next power of two of events-rows/1M,
    clamped to [32, 1024]. The r10 third-decade cdc_wide_row_apply
    re-run measured the fixed 32-partition PK shuffle as the residual
    bottleneck at 100M events (174 s at 32 -> 147 s at 128); a global
    AQE initialPartitionNum was measured and REJECTED (costs
    multi-stage rows up to 3x), so the sizing is applied per scale
    dir — exactly what a deployment sizes per job."""
    return pow2_partitions(rows, 1_000_000, 32, 1024)
